"""The three workloads: one closed-loop run, its output check, and the
traced per-layer calls.

Every run goes through the package's public entry points
(``traject_spark.cli.main(argv, spark=...)`` and
``traject_spark.corpus.curate_documents``). The traced calls force each
layer's work with ``write_noop`` or a write over materialized upstream
input, because Spark plans are lazy.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request

import pyarrow.parquet as pq

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
FLAGSHIP_CONFIG = os.path.join(HERE, "configs", "flagship.py")
REINDEX_CONFIG = os.path.join(HERE, "configs", "reindex.py")


def _rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(path, "*.parquet")))


def _bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*")))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _record_rules(config: str) -> list:
    """The config file's ``to_field`` calls, as (args, kwargs), in order."""
    from traject_spark import cli
    from traject_spark.pipeline import Pipeline

    calls: list = []
    scope = cli.config_scope(Pipeline())
    scope["to_field"] = lambda *a, **k: calls.append((a, k))
    with open(config, encoding="utf-8") as fh:
        exec(compile(fh.read(), config, "exec"), scope)  # noqa: S102
    return calls


class Workload:
    """One workload over one generated input directory."""

    name = ""
    #: seconds of untimed runs between the cold run and the window
    warm_seconds = 0.0
    #: a process standing in for a remote server (the Solr mock); its
    #: memory is not the program's
    mock = None

    def __init__(self, spark, inputs: str, manifest: dict, work: str):
        self.spark, self.inputs, self.manifest, self.work = (
            spark, inputs, manifest, work)

    def start(self) -> None:
        """Per-process resources (the Solr mock)."""

    def stop(self) -> None:
        pass

    def run(self) -> float:
        """One closed-loop run; -> wall seconds. Raises on failure."""
        raise NotImplementedError

    def check(self) -> list:
        raise NotImplementedError

    def trace(self, tracer, store, metrics: dict) -> None:
        """Traced per-layer calls; fills ``metrics``."""
        raise NotImplementedError

    # shared traced helpers -------------------------------------------------

    def _timed(self, tracer, store, name: str, fn, spark_metrics=None):
        """Run ``fn`` in a span, read the status store after it, store the
        stage totals on the span; -> (seconds, fn result)."""
        store.mark()
        with tracer.span(name) as sp:
            t0 = time.perf_counter()
            result = fn()
            secs = time.perf_counter() - t0
        sp["attrs"]["spark"] = got = store.read()
        if spark_metrics is not None:
            for k in ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "tasks", "jobs"):
                # the workload's own end-to-end call comes first and wins
                spark_metrics.setdefault(f"spark.{k}", got[k])
        return secs, result

    def _pipeline_build(self, tracer, config: str, source, metrics: dict) -> None:
        from traject_spark import cli
        from traject_spark.pipeline import Pipeline

        with tracer.span("pipeline.build") as sp:
            t0 = time.perf_counter()
            p = Pipeline()
            cli.load_config_files(p, [config])
            rules, _ = p.compile()
            p.apply(source)
            metrics["pipeline.build_s"] = time.perf_counter() - t0
        sp["attrs"]["rules"] = metrics["pipeline.rules"] = len(rules)

    def _mapping(self, tracer, store, config: str, parquet: str,
                 metrics: dict, per_rule: bool) -> None:
        """macros.scan_s, macros.map_s (all rules minus the full scan)
        and, with ``per_rule``, macros.rule.<field>_s over the pre-decoded
        parquet input."""
        from traject_spark import writers as W
        from traject_spark.pipeline import Pipeline

        src = self.spark.read.parquet(parquet)
        scan, _ = self._timed(tracer, store, "macros.scan",
                              lambda: W.write_noop(src))
        metrics["macros.scan_s"] = scan
        rules = _record_rules(config)
        full = Pipeline()
        for a, k in rules:
            full.to_field(*a, **k)
        mapped, _ = self._timed(tracer, store, "macros.map",
                                lambda: W.write_noop(full.apply(src)))
        metrics["macros.map_s"] = max(0.0, mapped - scan)
        if per_rule:
            for a, k in rules:
                p = Pipeline().to_field(*a, **k)
                # the whole single-rule job: its scan is pruned to the
                # columns the rule reads, so the full scan time does not
                # apply to it
                metrics[f"macros.rule.{a[0]}_s"], _ = self._timed(
                    tracer, store, f"macros.rule.{a[0]}",
                    lambda p=p: W.write_noop(p.apply(src)))


class IndexIso2709Ndjson(Workload):
    """UTF-8 ISO-2709 files -> 12-rule flagship config -> NDJSON dir."""

    name = "index_iso2709_ndjson"
    # run times fall for several runs after the cold one: the driver-side
    # build of the 12-rule plan is still being JIT-compiled
    warm_seconds = 6.0

    def __init__(self, *a):
        super().__init__(*a)
        self.files = sorted(glob.glob(os.path.join(self.inputs, "mrc", "*.mrc")))
        self.out = os.path.join(self.work, "out_ndjson")

    def argv(self) -> list:
        return ["-c", FLAGSHIP_CONFIG, "-o", self.out,
                "--master", self.spark.sparkContext.master, *self.files]

    def run(self) -> float:
        from traject_spark import cli

        _fresh(self.out)
        t0 = time.perf_counter()
        rc = cli.main(self.argv(), spark=self.spark)
        secs = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return secs

    def check(self) -> list:
        return checks.check_index(self.out, self.manifest)

    def trace(self, tracer, store, metrics: dict) -> None:
        from traject_spark import cli
        from traject_spark import writers as W
        from traject_spark.marc.io import read_iso2709
        from traject_spark.pipeline import Pipeline

        _fresh(self.out)
        metrics["cli.run_s"], _ = self._timed(
            tracer, store, "cli.run",
            lambda: cli.main(self.argv(), spark=self.spark), metrics)
        problems = self.check()
        if problems:
            raise RuntimeError(f"traced run failed its check: {problems}")
        parquet = os.path.join(self.inputs, "parquet")
        self._pipeline_build(tracer, FLAGSHIP_CONFIG,
                             self.spark.read.parquet(parquet), metrics)

        decoded = read_iso2709(self.spark, self.files)
        metrics["marc.io.decode_s"], _ = self._timed(
            tracer, store, "marc.io.decode", lambda: W.write_noop(decoded))
        metrics["marc.io.records"] = decoded.count()
        metrics["marc.io.input_bytes"] = sum(os.path.getsize(f) for f in self.files)

        self._mapping(tracer, store, FLAGSHIP_CONFIG, parquet, metrics, True)

        mapped_dir = _fresh(os.path.join(self.work, "mapped"))
        full = Pipeline()
        for a, k in _record_rules(FLAGSHIP_CONFIG):
            full.to_field(*a, **k)
        full.apply(self.spark.read.parquet(parquet)).write.parquet(mapped_dir)
        mapped = self.spark.read.parquet(mapped_dir)
        out = _fresh(os.path.join(self.work, "json_out"))
        metrics["writers.json_s"], _ = self._timed(
            tracer, store, "writers.json", lambda: W.write_json(mapped, out))
        metrics["writers.json_bytes"] = _bytes(out)


class ReindexParquetSolr(Workload):
    """Nested parquet -> 2-rule config -> Solr writer against the mock."""

    name = "reindex_parquet_solr"
    # the same falling run times as the index workload, over fewer runs
    warm_seconds = 5.0

    def __init__(self, *a):
        super().__init__(*a)
        self.parquet = os.path.join(self.inputs, "parquet")
        self.url = None

    def start(self) -> None:
        self.mock = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "solr_mock.py")],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.mock.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"Solr mock did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}/solr/core"

    def stop(self) -> None:
        if self.mock is not None:
            self.mock.terminate()
            try:
                self.mock.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.mock.kill()
                self.mock.wait()
            self.mock.stdout.close()
            self.mock = None

    def _admin(self, what: str) -> dict:
        base = self.url.rsplit("/solr/", 1)[0]
        req = urllib.request.Request(
            f"{base}/admin/{what}", method="POST" if what == "reset" else "GET",
            data=b"" if what == "reset" else None)
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())

    def argv(self) -> list:
        poison = len(self.manifest["poison_ids"])
        return ["-c", REINDEX_CONFIG, "-t", "parquet", "-w", "solr",
                "-u", self.url,
                "-s", f"solr_writer.batch_size={self.manifest['batch_size']}",
                "-s", f"solr_writer.max_skipped={poison}",
                "--master", self.spark.sparkContext.master,
                self.parquet]

    def run(self) -> float:
        from traject_spark import cli

        self._admin("reset")
        t0 = time.perf_counter()
        rc = cli.main(self.argv(), spark=self.spark)
        secs = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return secs

    def check(self) -> list:
        return checks.check_reindex(self._admin("stats"), self.manifest)

    def trace(self, tracer, store, metrics: dict) -> None:
        from traject_spark import cli
        from traject_spark import writers as W
        from traject_spark.pipeline import Pipeline

        self._admin("reset")
        metrics["cli.run_s"], _ = self._timed(
            tracer, store, "cli.run",
            lambda: cli.main(self.argv(), spark=self.spark), metrics)
        problems = self.check()
        if problems:
            raise RuntimeError(f"traced run failed its check: {problems}")
        self._pipeline_build(tracer, REINDEX_CONFIG,
                             self.spark.read.parquet(self.parquet), metrics)
        self._mapping(tracer, store, REINDEX_CONFIG, self.parquet, metrics, False)

        mapped_dir = _fresh(os.path.join(self.work, "mapped"))
        p = Pipeline()
        for a, k in _record_rules(REINDEX_CONFIG):
            p.to_field(*a, **k)
        p.apply(self.spark.read.parquet(self.parquet)).write.parquet(mapped_dir)
        mapped = self.spark.read.parquet(mapped_dir)
        self._admin("reset")
        metrics["writers.solr_s"], skipped = self._timed(
            tracer, store, "writers.solr",
            lambda: W.solr_json_writer(
                mapped, self.url, batch_size=self.manifest["batch_size"],
                max_skipped=len(self.manifest["poison_ids"])))
        st = self._admin("stats")
        problems = checks.check_reindex(st, self.manifest)
        if skipped != len(self.manifest["poison_ids"]):
            problems.append(f"writer skipped {skipped}, "
                            f"planted {len(self.manifest['poison_ids'])}")
        if problems:
            raise RuntimeError(f"traced Solr write failed its check: {problems}")
        metrics.update({
            "writers.solr_batch_posts": st["batch_posts"],
            "writers.solr_single_posts": st["single_posts"],
            "writers.solr_docs": st["accepted_docs"],
            "writers.solr_skipped": skipped,
            "writers.solr_max_inflight": st["max_inflight"],
            "writers.solr_client_gap_ms_p50": st["client_gap_ms_p50"],
            "writers.solr_client_gap_ms_p99": st["client_gap_ms_p99"],
            "writers.solr_wait_share": st["wait_share"],
        })


class CurateCorpus(Workload):
    """Documents -> curate_documents(near_dup="mark", benchmark=eval set)."""

    name = "curate_corpus"

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = os.path.join(self.inputs, "docs")
        self.eval = os.path.join(self.inputs, "eval")
        self.out = os.path.join(self.work, "curated")
        self.stage_dir = os.path.join(self.work, "curate_stages")

    def _curate(self):
        from traject_spark.corpus import curate_documents

        return curate_documents(
            self.spark.read.parquet(self.docs),
            min_tokens=self.manifest["min_tokens"],
            near_dup="mark",
            benchmark=self.spark.read.parquet(self.eval),
            contamination_n=self.manifest["contamination_n"],
            work_dir=self.stage_dir,
            output_path=self.out,
        )

    def run(self) -> float:
        _fresh(self.out)
        _fresh(self.stage_dir)
        t0 = time.perf_counter()
        self._curate()
        return time.perf_counter() - t0

    def check(self) -> list:
        return checks.check_curate(self.out, self.manifest)

    def trace(self, tracer, store, metrics: dict) -> None:
        from traject_spark import writers as W
        from traject_spark.corpus import (
            annotate_documents,
            apply_exact_dedup,
            decontaminate,
            minhash_lsh_candidates,
            minhash_near_dup_witness,
        )

        m = self.manifest
        _fresh(self.out)
        _fresh(self.stage_dir)
        metrics["corpus.curate_s"], _ = self._timed(
            tracer, store, "corpus.curate", self._curate, metrics)
        problems = self.check()
        if problems:
            raise RuntimeError(f"traced run failed its check: {problems}")
        _, marked = checks.read_curated(self.out)
        metrics["corpus.near_dup_recall"] = checks.near_dup_recall(
            marked, m["near_dup_pairs"])

        def stage(name: str, df):
            """Time write_noop(df), then materialize df for the next
            layer; -> (materialized frame, row count)."""
            secs, _ = self._timed(tracer, store, f"corpus.{name}",
                                  lambda: W.write_noop(df))
            metrics[f"corpus.{name}_s"] = secs
            path = _fresh(os.path.join(self.work, f"layer_{name}"))
            df.write.parquet(path)
            return self.spark.read.parquet(path), _rows(path)

        spark = self.spark
        ann, n_ann = stage("annotate", annotate_documents(
            spark.read.parquet(self.docs), min_tokens=m["min_tokens"]))
        dec, n_dec = stage("decontaminate", decontaminate(
            ann, spark.read.parquet(self.eval), text_col="text", id_col="id",
            n=m["contamination_n"]))
        surv, n_surv = stage("exact_dedup", apply_exact_dedup(
            dec, text_col="text", id_col="id", fp_col="fp"))
        _, n_wit = stage("near_dup", minhash_near_dup_witness(
            surv, id_col="id", sig_col="msig"))
        cands = minhash_lsh_candidates(surv, id_col="id", sig_col="msig")
        n_cand = cands.count()
        n_conf = cands.filter("est_jaccard >= 0.8").count()
        metrics.update({
            "corpus.in": m["records"],
            "corpus.gated_out": m["records"] - n_ann,
            "corpus.contaminated_out": n_ann - n_dec,
            "corpus.exact_dups": n_dec - n_surv,
            "corpus.near_dups_marked": n_wit,
            "corpus.kept": n_surv,
            "corpus.lsh_precision": n_conf / n_cand if n_cand else 0.0,
        })


WORKLOADS = {w.name: w for w in (IndexIso2709Ndjson, ReindexParquetSolr, CurateCorpus)}
