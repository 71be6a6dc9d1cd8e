"""Render MarcSpec lists as one Spark SQL expression over the record struct.

Semantics mirrored from the reference extractor
(lib/traject/marc_extractor.rb:205-270):

- iterate record fields in document order; for each field, every spec
  registered for its (effective) tag contributes, in declaration order;
- control fields yield ``value.byteslice(bytes)`` (or the whole value when
  the spec carries no byte range);
- data fields yield subfield values filtered by the spec's codes, in
  subfield order; when a separator is configured and the spec is
  "joinable" (zero or 2+ codes, or a doubled code) the values of ONE field
  are joined into ONE string;
- alternate-script: with mode ``include`` (default) an 880 field is matched
  as if it had the tag named by the first 3 bytes of its ``$6`` (falling
  back to ``880`` when ``$6`` is absent); ``only`` restricts matching to
  880 fields; ``False`` disables the rewrite entirely
  (lib/traject/marc_extractor.rb:112-158, marc_extractor_spec.rb:51-67).

Everything here renders SQL TEXT; callers wrap it in one ``F.expr``, which
costs 3 Py4J round trips however large the expression tree (building the
same tree from Column calls costs one round trip per node).
The expression is pure array algebra over the nested struct — no
explode, no join, no shuffle. On a cluster this stays inside one
whole-stage-codegen'd narrow stage regardless of data size.

Note on ordering: the reference interleaves control/data fields in record
order; in practice control fields (001-009) physically precede data fields,
so this implementation emits control-spec results first. Documented
deviation for pathological out-of-order records.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import sql_let
from traject_spark.marc.serialize import CONTROL_TAGS
from traject_spark.marc.spec import ALTERNATE_SCRIPT_TAG, MarcSpec, parse_marc_spec
from traject_spark.sqlutil import EMPTY_SQL, sql_ident, sql_str_lit


def source_sql(ctx) -> str:
    """SQL text of the record column a macro reads: the pipeline's
    ``source_col`` (``marc`` outside a pipeline), resolved like ``F.col``."""
    pipeline = getattr(ctx, "_pipeline", None)
    return sql_ident(pipeline.source_col if pipeline is not None else "marc")


#: value of field ``f``'s first $6 subfield (linkage), NULL when absent
#: (``get`` is null-safe on empty arrays; ANSI ``element_at`` throws)
FIRST6_SQL = "get(filter(f.subfields, sf -> sf.code = '6'), 0).value"

#: field ``f``'s effective tag: 880 -> first 3 bytes of first $6, falling
#: back to '880' when absent (lib/traject/marc_extractor_spec.rb:58-67)
EFFECTIVE_TAG_SQL = (
    "CASE WHEN f.tag = '880' THEN "
    f"coalesce(substring({FIRST6_SQL}, 1, 3), '880') ELSE f.tag END"
)


def _byteslice_sql(value: str, spec: MarcSpec) -> str:
    """Ruby String#byteslice semantics on ASCII fixed fields.

    byteslice(n)    -> nil when n >= length       (single byte form)
    byteslice(n..m) -> '' when n == length, nil when n > length, partial
                       result when m >= length
    (lib/traject/marc_extractor.rb:209-217; fixed fields are ASCII so
    byte == char and substring is safe — SURVEY §4 trap 6.)
    """
    start = spec.bytes_start
    if spec.bytes_end is None:
        return (
            f"CASE WHEN length({value}) > {start} "
            f"THEN substring({value}, {start + 1}, 1) END"
        )
    return (
        f"CASE WHEN length({value}) >= {start} "
        f"THEN substring({value}, {start + 1}, {spec.byte_length}) END"
    )


def _concat_sql(parts: list[str]) -> str:
    return parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"


def collect_subfields_sql(
    fvar: str, spec: MarcSpec, separator: Optional[str]
) -> str:
    """Subfield values of the data field ``fvar`` per spec (code filter +
    join rule), without the tag/indicator match — the reuse point for
    semantic macros (mirrors MarcExtractor#collect_subfields,
    marc_extractor.rb:258-270).

    NULL subfield values are dropped HERE, before the join — the reference
    runs ``.compact`` before its empty-check and join, so an all-nil field
    contributes nothing (not ``[""]``). The coalesce guards against a NULL
    ``subfields`` array (allowed by the schema for user-supplied parquet):
    filter/transform null-propagate, and one NULL contribution would null
    out concat+flatten for the whole record."""
    if spec.subfields is None:
        pred = "sf.value IS NOT NULL"
    else:
        codes = ", ".join(sql_str_lit(c) for c in spec.subfields)
        pred = f"(sf.code IN ({codes})) AND (sf.value IS NOT NULL)"
    vals = (
        f"coalesce(transform(filter({fvar}.subfields, sf -> {pred}), "
        f"sf -> sf.value), {EMPTY_SQL})"
    )
    if separator is not None and spec.joinable:
        vals = sql_let(
            vals,
            "jv",
            "CASE WHEN size(jv) > 0 THEN "
            f"array(array_join(jv, {sql_str_lit(separator)})) "
            f"ELSE {EMPTY_SQL} END",
        )
    return vals


def _resolve_specs(spec) -> list:
    if isinstance(spec, list) and spec and isinstance(spec[0], MarcSpec):
        return spec
    return parse_marc_spec(spec)


def _match_sql(tags: list[str], s: MarcSpec, use_alt: bool) -> str:
    """Tag(s) match with the 880 rewrite inlined as short-circuit
    disjuncts: for the common non-880 field the $6 probe never runs
    (cheaper than binding an effective tag per field). Faithful to
    effective_tag = coalesce(substr($6,1,3), '880')
    (marc_extractor_spec.rb:58-67): an 880 WITH a $6 matches its linked
    tag only; an 880 without $6 matches spec tag '880'."""
    tl = ", ".join(sql_str_lit(t) for t in tags)
    if not use_alt:
        cond = f"f.tag IN ({tl})"
    elif tags == [ALTERNATE_SCRIPT_TAG]:
        cond = (
            f"(f.tag = '880') AND "
            f"(coalesce(substring({FIRST6_SQL}, 1, 3), '880') = '880')"
        )
    else:
        cond = (
            f"(f.tag IN ({tl}) OR ((f.tag = '880') AND "
            f"(substring({FIRST6_SQL}, 1, 3) IN ({tl}))))"
        )
    if s.ind1 is not None:
        cond = f"({cond}) AND (f.ind1 = {sql_str_lit(s.ind1)})"
    if s.ind2 is not None:
        cond = f"({cond}) AND (f.ind2 = {sql_str_lit(s.ind2)})"
    return cond


def _spec_groups(specs: list[MarcSpec]) -> list[tuple[list[str], MarcSpec]]:
    """Merge specs that differ only by tag into one IN() group: a spec
    list like 600:610:611:650:651 (geo/era/lcsh shapes) costs ONE match
    + extraction per field instead of N. Safe only when no tag appears
    in two specs (then a field matches at most one spec, so per-field
    contribution order is unaffected); '880' specs stay unmerged (their
    match rule differs).

    CALLBACK CONTRACT: a merged group hands the callback the FIRST spec
    of the group, so a callback must not branch on ``s.tag`` or the
    byte-range fields (read the FIELD's ``f.tag`` instead — every
    in-repo callback does). The merge key carries (ind1, ind2,
    subfields), i.e. exactly the spec attributes the callbacks consume;
    byte specs are control-tag specs and control fields never take this
    path."""
    if any(c > 1 for c in Counter(s.tag for s in specs).values()):
        return [([s.tag], s) for s in specs]
    groups: list[tuple[list[str], MarcSpec]] = []
    by_key: dict = {}
    for s in specs:
        key = (s.ind1, s.ind2, s.subfields)
        if s.tag != ALTERNATE_SCRIPT_TAG and key in by_key:
            by_key[key][0].append(s.tag)
            continue
        g = ([s.tag], s)
        if s.tag != ALTERNATE_SCRIPT_TAG:
            by_key[key] = g
        groups.append(g)
    return groups


def collect_matching_lines(
    src: str,
    spec,
    data_fn: Callable[[str, MarcSpec], str],
    alternate_script: Union[str, bool] = "include",
) -> str:
    """Generalized each_matching_line (marc_extractor.rb:226-235) as SQL
    text: iterate fields in record order; for each field, every spec for
    its (effective) tag contributes, results flattened in order.

    ``src`` is the record struct as SQL text (see :func:`source_sql`).
    ``data_fn(field_var, spec) -> SQL`` renders the ``array<string>``
    contribution of one data field (bound to the lambda variable
    ``field_var``) x one matching spec. Control fields contribute their
    byte slice or whole value.
    """
    # the reference's documented option values are true (include 880
    # alternate scripts — its DEFAULT), false (exclude), and :only
    # (marc_extractor.rb): normalize the booleans so alternate_script=True
    # enables inclusion instead of silently falling through every
    # string comparison below as "neither include nor only"
    if alternate_script is True:
        alternate_script = "include"
    specs = _resolve_specs(spec)
    if not specs:  # '' is a no-op extractor
        return EMPTY_SQL

    # control fields can only carry tags 001-009 (the reference dispatches
    # on the FIELD's kind, lib/traject/marc_extractor.rb:283-287) — build
    # the control branch only when a spec could actually match one, so a
    # datafield-only pipeline prunes marc.controlfields at the scan.
    # Under alternate_script='only' NO tag except 880 is interesting
    # (marc_extractor.rb:146-149), so control specs contribute nothing.
    # membership in the canonical ruby-marc set, not tag < "010": specs
    # like "000" or "00a" are DataFields in that model (and the ingest
    # engines place them in datafields), so a lexicographic predicate
    # would scan the wrong branch and silently extract nothing for them
    ctrl_specs = (
        [] if alternate_script == "only"
        else [s for s in specs if s.tag in CONTROL_TAGS]
    )
    ctrl_part = None
    if ctrl_specs:
        keep = " OR ".join(
            f"(f.tag = {sql_str_lit(t)})"
            for t in sorted({s.tag for s in ctrl_specs})
        )
        per_ctrl = _concat_sql([
            f"CASE WHEN f.tag = {sql_str_lit(s.tag)} THEN array("
            + (_byteslice_sql("f.value", s) if s.is_byte_spec else "f.value")
            + f") ELSE {EMPTY_SQL} END"
            for s in ctrl_specs
        ])
        ctrl_part = (
            f"flatten(transform(filter({src}.controlfields, f -> {keep}), "
            f"f -> {per_ctrl}))"
        )

    use_alt = alternate_script in ("include", "only")
    # Datafield-branch pruning, mirror of the control-branch pruning above:
    # tags 001-009 are ControlFields in the reference's data model
    # (ruby-marc parses them so), so a spec list that is ALL control tags
    # can only reach the datafield side via the 880 $6 rewrite.  With
    # alternate scripts off, skip the branch entirely (lets Catalyst prune
    # marc.datafields at the scan); with them on, only 880 fields need
    # considering.  Preserves the reference's (pathological) behavior of an
    # 880 whose $6 links a control tag being collected as subfields.
    all_control = all(s.tag in CONTROL_TAGS for s in specs)
    if all_control and not use_alt:
        return f"coalesce({ctrl_part}, {EMPTY_SQL})"
    considered = f"{src}.datafields"
    if alternate_script == "only" or all_control:
        considered = f"filter({considered}, f -> f.tag = '880')"

    groups = _spec_groups(specs)
    matches = [_match_sql(tags, s, use_alt) for tags, s in groups]
    # each contribution is coalesced so one field with subfields=NULL
    # (allowed by the schema for user-supplied parquet) contributes
    # nothing instead of nulling the concat+flatten for the whole record
    # — every per-field callback gets the guard for free. A single group
    # needs no per-group dispatch: the pre-filter below IS its match.
    if len(groups) == 1:
        per_field = f"coalesce({data_fn('f', groups[0][1])}, {EMPTY_SQL})"
    else:
        per_field = _concat_sql([
            f"CASE WHEN {m} THEN coalesce({data_fn('f', s)}, {EMPTY_SQL}) "
            f"ELSE {EMPTY_SQL} END"
            for m, (_, s) in zip(matches, groups)
        ])
    # pre-filter to fields that match SOME group before the extraction
    # transform, so the per-field array allocation happens only for
    # matched fields (~1-2 of ~20 fields per record for a typical spec)
    any_match = " OR ".join(f"({m})" for m in matches)
    data_part = (
        f"flatten(transform(filter({considered}, f -> {any_match}), "
        f"f -> {per_field}))"
    )
    if ctrl_part is None:
        return f"coalesce({data_part}, {EMPTY_SQL})"
    return sql_let(
        ctrl_part,
        "cp",
        sql_let(data_part, "dp", f"coalesce(concat(cp, dp), cp, dp, {EMPTY_SQL})"),
    )


def extract_sql(
    src: str,
    spec,
    separator: Optional[str] = " ",
    alternate_script: Union[str, bool] = "include",
) -> str:
    """:func:`marc_extract` as SQL text over the record struct ``src``."""
    return collect_matching_lines(
        src,
        spec,
        lambda f, s: collect_subfields_sql(f, s, separator),
        alternate_script,
    )


def marc_extract(
    spec: Union[str, Sequence[str], list],
    separator: Optional[str] = " ",
    alternate_script: Union[str, bool] = "include",
    source: str = "marc",
) -> Column:
    """Compile a spec into one ``array<string>`` Column over the record
    column named ``source`` (resolved like ``F.col``, so ``"rec.marc"``
    reads a nested struct).

    The result may contain NULL elements (out-of-range byte slices) —
    matching the reference, where nils survive in the accumulator until
    ``add_output`` drops them (lib/traject/indexer/context.rb:117-129);
    ``Pipeline`` applies that drop at output time.
    """
    return F.expr(
        extract_sql(sql_ident(source), spec, separator, alternate_script)
    )
