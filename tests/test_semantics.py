"""Semantic macro golden tests — the behavioral port of
test/indexer/macros/macros_marc21_semantics_test.rb and
marc_format_classifier_test.rb, on independently-authored fixtures."""

import pytest
from pyspark.sql import functions as F

from traject_spark import Pipeline
from traject_spark.macros import (
    extract_marc,
    extract_marc_filing_version,
    marc_era_facet,
    marc_formats,
    marc_geo_facet,
    marc_instrument_codes_normalized,
    marc_instrumentation_humanized,
    marc_languages,
    marc_lcc_to_broad_category,
    marc_lcsh_formatted,
    marc_publication_date,
    marc_series_facet,
    marc_sortable_author,
    marc_sortable_title,
    oclcnum,
)
from traject_spark.marc.schema import marc_record

from tests.fixtures import BOOK, EMPTY, THE_TITLE


def run(spark, record, *macros):
    p = Pipeline().to_field("out", *macros)
    return p.map_record(record, spark).get("out")


def test_oclcnum(spark):
    # (OCoLC) prefix, ocm prefix kept with leading zeros, non-OCLC dropped
    assert run(spark, BOOK, oclcnum()) == ["17508918", "00000123"]


def test_oclcnum_variants(spark):
    rec = marc_record(
        datafields=[
            ("035", " ", " ", [("a", "(OCoLC)ocn123456")]),
            ("035", " ", " ", [("a", "on9876")]),
            ("035", " ", " ", [("a", "(OCoLC)111")]),
            ("035", " ", " ", [("a", "(OCoLC)111")]),  # dup -> deduped
            ("035", " ", " ", [("a", "ISSN 444")]),
        ]
    )
    assert run(spark, rec, oclcnum()) == ["123456", "9876", "111"]


def test_sortable_title(spark):
    assert run(spark, BOOK, marc_sortable_title()) == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    # non-filing chars stripped via ind2=4
    assert run(spark, THE_TITLE, marc_sortable_title()) == [
        "fateful triangle : essays"
    ]
    assert run(spark, EMPTY, marc_sortable_title()) is None


def test_sortable_title_k_fallback(spark):
    rec = marc_record(
        datafields=[("245", "1", "0", [("k", "Papers,"), ("f", "1950-1960.")])]
    )
    assert run(spark, rec, marc_sortable_title()) == ["Papers"]


def test_sortable_author(spark):
    assert run(spark, BOOK, marc_sortable_author()) == [
        "Herman, Edward S.   Manufacturing consent the political economy "
        "of the mass media Edward S. Herman and Noam Chomsky"
    ]
    # no author, no title -> single empty string (reference appends '')
    assert run(spark, EMPTY, marc_sortable_author()) == [""]


def test_filing_version(spark):
    assert run(spark, THE_TITLE, extract_marc_filing_version()) == [
        "fateful triangle : essays."
    ]
    out = run(
        spark, THE_TITLE, extract_marc_filing_version(include_original=True)
    )
    assert out == [
        "The fateful triangle : essays.",
        "fateful triangle : essays.",
    ]
    # ind2=0 -> unchanged
    assert run(spark, BOOK, extract_marc_filing_version("245ab")) == [
        "Manufacturing consent : the political economy of the mass media /"
    ]


def test_languages_packed_and_translated(spark):
    rec = marc_record(
        controlfields=[("008", " " * 35 + "eng  ")],
        datafields=[
            ("041", "1", " ", [("a", "engfrespa")]),
            ("041", "1", " ", [("d", "ger")]),
        ],
    )
    assert run(spark, rec, marc_languages()) == [
        "English",
        "French",
        "Spanish",
        "German",
    ]


def test_series_facet_skips_traced_490(spark):
    rec = marc_record(
        datafields=[
            ("440", " ", "0", [("a", "Lecture notes in physics ;")]),
            ("490", "1", " ", [("a", "Traced series.")]),
            ("490", "0", " ", [("a", "Untraced series.")]),
        ]
    )
    assert run(spark, rec, marc_series_facet()) == [
        "Lecture notes in physics",
        "Untraced series",
    ]


def test_instrumentation_humanized(spark):
    rec = marc_record(
        datafields=[
            ("048", " ", " ", [("a", "ka01"), ("b", "sa02")]),
        ]
    )
    assert run(spark, rec, marc_instrumentation_humanized()) == [
        "Piano",
        "Violin",
    ]


def test_instrument_codes_normalized(spark):
    rec = marc_record(
        datafields=[("048", " ", " ", [("a", "ka01"), ("b", "sa02")])]
    )
    assert run(spark, rec, marc_instrument_codes_normalized()) == [
        "ka01",
        "ka",
        "sa02",
        "sa02.s",
        "sa",
        "sa.s",
    ]


PUBDATE_CASES = [
    # (008 content, extra fields, expected)
    ("880520s1988    nyu", [], 1988),  # plain single date
    ("      q19701980   ", [], 1975),  # questionable range -> midpoint
    ("      q19001980   ", [], None),  # range too wide, no fallback
    ("      s197u       ", [], 1975),  # u-digit -> midpoint of decade
    ("      s19uu       ", [], None),  # 100-year delta > tolerance
    ("      r19851939   ", [], 1939),  # reprint prefers date2
    ("      p19851939   ", [], 1939),
    ("      r1985000    ", [], 1985),  # date2 zero -> date1 (length 15: d2=d1? no)
    ("      n0000       ", [("260", " ", " ", [("c", "c1988.")])], 1988),
    ("      nuuuu       ", [("264", " ", "1", [("c", "[2012]")]),
                            ("260", " ", " ", [("c", "1776")])], 2012),
    ("      s0001       ", [], None),  # below min_year
]


def test_publication_date_cases(spark):
    recs = [
        marc_record(controlfields=[("008", f008)], datafields=extra)
        for f008, extra, _ in PUBDATE_CASES
    ]
    p = Pipeline().to_field("out", marc_publication_date())
    outs = p.map_records(recs, spark)
    for (f008, _, expected), out in zip(PUBDATE_CASES, outs):
        got = out.get("out")
        want = None if expected is None else [str(expected)]
        assert got == want, f"008={f008!r}: got {got}, want {want}"


def test_publication_date_no_008_fallback_260(spark):
    rec = marc_record(datafields=[("260", " ", " ", [("c", "circa 1923?")])])
    assert run(spark, rec, marc_publication_date()) == ["1923"]


def test_lcc_broad_category(spark):
    assert run(spark, BOOK, marc_lcc_to_broad_category()) == [
        "Language & Literature"
    ]
    rec = marc_record(datafields=[("050", "0", "0", [("a", "Film no. 123")])])
    assert run(spark, rec, marc_lcc_to_broad_category()) == ["Unknown"]
    assert run(spark, EMPTY, marc_lcc_to_broad_category(default=None)) is None
    # the builtin map is probed inside the SQL; a map with a __default__
    # is not probe-eligible and translates the SQL's letters instead
    from traject_spark.translation_map import TranslationMap

    rec = marc_record(datafields=[
        ("050", "0", "0", [("a", "QA76.73 .P98")]),
        ("090", " ", " ", [("a", "PS3545 .A1")]),
        ("096", " ", " ", [("a", "ZZ not lcc")]),
    ])
    assert run(spark, rec, marc_lcc_to_broad_category()) == [
        "Science", "Language & Literature"
    ]
    tm = TranslationMap({"P": "Literature", "__default__": "Elsewhere"})
    assert run(
        spark, rec, marc_lcc_to_broad_category(translation_map=tm)
    ) == ["Elsewhere", "Literature"]


def test_geo_facet(spark):
    rec = marc_record(
        datafields=[
            ("043", " ", " ", [("a", "n-us---")]),
            ("651", " ", "0", [("a", "France.")]),
            (
                "650",
                " ",
                "0",
                [("a", "History"), ("z", "Germany"), ("z", "Berlin.")],
            ),
        ]
    )
    assert run(spark, rec, marc_geo_facet()) == [
        "United States",
        "France",
        "Berlin (Germany)",
        "Germany",
    ]


def test_era_facet(spark):
    rec = marc_record(
        datafields=[
            ("650", " ", "0", [("a", "Art"), ("y", "20th century.")]),
            (
                "651",
                " ",
                "0",
                [("a", "United States"), ("y", "Civil War, 1861-1865.")],
            ),
        ]
    )
    assert run(spark, rec, marc_era_facet()) == [
        "20th century",
        "United States: Civil War, 1861-1865",
    ]


def test_lcsh_formatted(spark):
    out = run(spark, BOOK, marc_lcsh_formatted())
    assert out == [
        "Mass media — Political aspects — United States",
        "Mass media — Economic aspects",
    ]


def test_lcsh_formatted_custom_separator(spark):
    out = run(spark, BOOK, marc_lcsh_formatted(subdivision_separator="--"))
    assert out[0] == "Mass media--Political aspects--United States"


def test_formats_book_print(spark):
    assert run(spark, BOOK, marc_formats()) == ["Book", "Print"]


def test_formats_thesis_replaces_book(spark):
    rec = marc_record(
        leader="01234cam a2200301 a 4500",
        datafields=[("502", " ", " ", [("a", "Thesis (Ph.D.)")])],
    )
    assert run(spark, rec, marc_formats()) == ["Print", "Dissertation/Thesis"]


def test_formats_conference_online_microform(spark):
    rec = marc_record(
        leader="01234cam a2200301 a 4500",
        controlfields=[("007", "cr an 008mamaa")],
        datafields=[
            ("650", " ", "0", [("a", "Physics"), ("v", "Congresses.")]),
        ],
    )
    assert run(spark, rec, marc_formats()) == [
        "Book",
        "Online",
        "Print",
        "Conference",
    ]


def test_formats_video_and_default(spark):
    video = marc_record(leader="01234cgm a2200301 a 4500")
    assert run(spark, video, marc_formats()) == ["Video/Film", "Print"]
    unknown = marc_record(leader="01234czz a2200301 a 4500")
    assert run(spark, unknown, marc_formats()) == ["Print"]


def test_genre_array_valued_map_entries_flatten(spark):
    """A custom genre map may hold array values; the reference flattens
    them in ([results].flatten, marc_format_classifier.rb:88-92) rather
    than keeping element 0 only."""
    from traject_spark.macros.formats import genre_sql
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record
    from traject_spark.sqlutil import EMPTY_SQL
    from traject_spark.translation_map import TranslationMap

    rec = marc_record(leader="00000nam a2200000 a 4500")
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    lmap = TranslationMap({"am": ["Book", "Monograph"], "a": "Language"})
    out = df.select(
        F.expr(
            genre_sql("coalesce(marc.leader, '')", EMPTY_SQL, leader_map=lmap)
        ).alias("g")
    ).collect()[0]["g"]
    assert out == ["Book", "Monograph"]


def test_null_subfields_field_does_not_wipe_semantic_macros(spark):
    """The custom per-field callbacks (geo $z pairing, era $y, lcsh
    assembly, instrument expansion) transform f['subfields'] directly;
    collect_matching_lines now coalesces each contribution so one field
    with subfields=NULL (schema-legal in user parquet) contributes
    nothing instead of nulling the whole record's output."""
    base = marc_record(
        controlfields=[("048", None)],
        datafields=[
            ("043", " ", " ", [("a", "n-us---")]),
            ("651", " ", "0", [("a", "Indiana"), ("z", "Alpha"), ("z", "Beta")]),
            ("650", " ", "0", [("a", "Art"), ("y", "500-1400")]),
            ("600", "1", "0", [("a", "Smith, J."), ("x", "Criticism")]),
            ("048", " ", " ", [("a", "ka01"), ("b", "va02")]),
        ],
    )
    broken = {
        **base,
        "datafields": base["datafields"]
        + [{"tag": t, "ind1": " ", "ind2": "0", "subfields": None}
           for t in ("651", "650", "600", "048")],
    }
    for macro in (
        marc_geo_facet(),
        marc_era_facet(),
        marc_lcsh_formatted(),
        marc_instrument_codes_normalized(),
    ):
        clean = run(spark, base, macro)
        dirty = run(spark, broken, macro)
        assert clean, f"{macro}: fixture produced nothing"
        assert dirty == clean, f"{macro}: NULL-subfields field changed output"


def test_lcsh_null_subfield_value_skips_only_itself(spark):
    """A NULL subfield VALUE (schema-legal in user parquet) must not null
    the whole assembled heading."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_lcsh_formatted
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(
        controlfields=[("001", "x")],
        datafields=[("650", " ", "0",
                     [("a", "Mass media"), ("x", None),
                      ("z", "United States")])],
    )
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    out = Pipeline().to_field("s", marc_lcsh_formatted()).apply(df).collect()
    assert out[0]["s"] == ["Mass media — United States"]


def test_sortable_title_custom_spec_honors_indicators(spark):
    from traject_spark import Pipeline
    from traject_spark.macros import marc_sortable_title
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(
        controlfields=[("001", "x")],
        datafields=[("245", "1", "4", [("a", "The fateful triangle")])],
    )
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    p = (Pipeline()
         .to_field("hit", marc_sortable_title("245|14|ab"))
         .to_field("miss", marc_sortable_title("245|10|ab")))
    row = p.apply(df).collect()[0]
    assert row["hit"] == ["fateful triangle"]
    assert row["miss"] is None


def test_marc_languages_sql_fastpath_parity(spark):
    """marc_languages value pins on every edge shape: packed >3-char
    041a chunks, 880-with-$6 rewrite, 880-without-$6 drop, short 008
    byte slice, NULL subfield values, duplicate codes (distinct), map
    misses, and a custom spec. The expected values were produced by the
    earlier Column builder over the same inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_languages
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    recs = [
        ("r1", marc_record(
            controlfields=[("008", "880520s1990    xx" + " " * 18 + "eng d")],
            datafields=[("041", "0", " ", [("a", "engfregerm"), ("d", "spa")])],
        )),
        ("r2", marc_record(
            controlfields=[("008", "short")],
            datafields=[
                ("880", "0", " ", [("6", "041-01"), ("a", "heb")]),
                ("880", "0", " ", [("a", "NO-SIX-DROPS")]),
                ("041", "0", " ", [("d", None), ("a", "ger")]),
            ],
        )),
        ("r3", marc_record(controlfields=[], datafields=[])),
        ("r4", marc_record(
            controlfields=[("008", "880520s1990    xx" + " " * 18 + "fre d")],
            datafields=[("041", "0", " ", [("b", "unused"), ("a", "fre")])],
        )),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)

    def out(macro):
        rows = Pipeline().to_field("language", macro).apply(df).collect()
        return {r["record_id"]: r["language"] for r in rows}

    assert out(marc_languages()) == {
        "r1": ["English", "French", "German", "Spanish"],
        "r2": ["Hebrew", "German"],
        "r3": None,
        "r4": ["French"],
    }
    assert out(marc_languages("041a")) == {
        "r1": ["English", "French", "German"],
        "r2": ["Hebrew", "German"],
        "r3": None,
        "r4": ["French"],
    }


def test_translation_map_sql_probe_shape_guards():
    """sql_probe returns None for every map shape whose semantics the
    single-string probe cannot carry — those keep the Column path."""
    from traject_spark.translation_map import TranslationMap

    assert TranslationMap({"k": "V"}).sql_probe("v") is not None
    # default / nil values / multi-valued / separator collisions
    assert TranslationMap({"k": "V"}, default="D").sql_probe("v") is None
    assert TranslationMap({"k": None}).sql_probe("v") is None
    assert TranslationMap({"k": ["a", "b"]}).sql_probe("v") is None
    assert TranslationMap({"k": "bad\x1evalue"}).sql_probe("v") is None
    # backslash maps became eligible in r12: sql_str_lit renders them
    # mode-stably via chr(92) instead of the probe refusing outright
    assert TranslationMap({"k": "back\\slash"}).sql_probe("v") is not None


def test_translation_map_sql_probe_quoting(spark):
    """Apostrophes in map values (120 in the languages map: Gwich'in,
    N'Ko...) must survive the SQL-literal encoding."""
    from pyspark.sql import functions as F
    from traject_spark.translation_map import TranslationMap

    tm = TranslationMap({"gwi": "Gwich'in", "x": "it's 'quoted'"})
    sql = tm.sql_probe("v")
    df = spark.createDataFrame([(["gwi", "x", "miss"],)], "codes array<string>")
    out = df.select(
        F.expr(f"transform(codes, v -> {sql})").alias("hits")
    ).collect()[0]["hits"]
    assert out == ["Gwich'in", "it's 'quoted'", None]


def test_ident_safe_gates_sql_fastpath():
    """The corpus and formats SQL fast paths must engage only for plain
    identifiers — a dotted name resolves a nested field via F.col() but
    a top-level column via backtick-quoted SQL, so the two paths would
    read DIFFERENT columns."""
    from traject_spark.sqlutil import ident_safe

    assert ident_safe("marc")
    assert ident_safe("_src_2")
    for bad in ("a.b", "a`b", "a b", "a-b", "", "1col", "a\nb", "a;b"):
        assert not ident_safe(bad), bad


def test_marc_formats_sql_fastpath_parity(spark):
    """marc_formats value pins over every classifier branch: genre
    two-byte pair vs one byte vs 007 fallback with NULL misses kept (then
    dropped as nils at output), manuscript, microform, online (007 'cr'
    and GMD-with-no-007c), RDA-338 print, GMD-suppressed print, thesis
    Book replacement, Conference append, recording-suppresses-Print, and
    the empty->default stage. The expected values were produced by the
    earlier Column builder over the same inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_formats
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    recs = [
        ("book_print", marc_record(leader="01234cam a2200301 a 4500")),
        ("journal", marc_record(leader="01234cas a2200301 a 4500")),
        ("thesis", marc_record(
            leader="01234cam a2200301 a 4500",
            datafields=[("502", " ", " ", [("a", "Thesis")])],
        )),
        ("conf_online", marc_record(
            leader="01234cam a2200301 a 4500",
            controlfields=[("007", "cr an 008mamaa")],
            datafields=[("650", " ", "0",
                         [("a", "Physics"), ("v", "Congresses.")])],
        )),
        ("recording", marc_record(leader="01234cjm a2200301 a 4500")),
        ("video_gmd", marc_record(
            leader="01234cgm a2200301 a 4500",
            datafields=[("245", "0", "0",
                         [("a", "T"), ("h", "[electronic resource]")])],
        )),
        ("microform_007", marc_record(
            leader="01234czz a2200301 a 4500",
            controlfields=[("007", "h d")],
        )),
        ("manuscript", marc_record(leader="01234ctm a2200301 a 4500")),
        ("rda_338_volume", marc_record(
            leader="01234czz a2200301 a 4500",
            datafields=[("338", " ", " ",
                         [("a", "volume"), ("2", "rdacarrier")])],
        )),
        ("rda_338_online", marc_record(
            leader="01234czz a2200301 a 4500",
            datafields=[("338", " ", " ",
                         [("a", "online resource"), ("2", "rdacarrier")])],
        )),
        ("unknown_007_nil", marc_record(
            leader="01234czz a2200301 a 4500",
            controlfields=[("007", "z unmapped")],
        )),
        ("default_empty", marc_record(
            leader="01234czz a2200301 a 4500",
            datafields=[("245", "0", "0",
                         [("a", "T"), ("h", "[microform]")])],
        )),
        ("null_leader", marc_record(leader=None)),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)
    rows = Pipeline().to_field("format", marc_formats()).apply(df).collect()
    assert {r["record_id"]: r["format"] for r in rows} == {
        "book_print": ["Book", "Print"],
        "journal": ["Journal/Newspaper", "Print"],
        "thesis": ["Print", "Dissertation/Thesis"],
        "conf_online": ["Book", "Online", "Print", "Conference"],
        "recording": ["Musical Recording"],
        "video_gmd": ["Video/Film", "Online"],
        "microform_007": ["Microform", "Print"],
        "manuscript": ["Book", "Manuscript/Archive", "Print"],
        "rda_338_volume": ["Print"],
        "rda_338_online": ["Other"],
        "unknown_007_nil": ["Print"],
        "default_empty": ["Microform"],
        "null_leader": ["Print"],
    }


def test_marc_geo_sql_fastpath_parity(spark):
    """marc_geo_facet value pins: 043a trailing-hyphen strip + map probe
    with misses dropped, 880-linked 043, 651a/691a FIRST-'. '-occurrence
    removal, one/two/three $z shapes (two -> 'z2 (z1)' + posted z1),
    whole-accumulator distinct, and custom specs. The expected values
    were produced by the earlier Column builder over the same inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_geo_facet
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    recs = [
        ("hyphens", marc_record(datafields=[
            ("043", " ", " ", [("a", "n-us---"), ("a", "zz-miss")]),
        ])),
        ("linked_880", marc_record(datafields=[
            ("880", " ", " ", [("6", "043-01"), ("a", "e-fr---")]),
        ])),
        ("a_sub_first", marc_record(datafields=[
            ("651", " ", "0", [("a", "Boston (Mass.). Maps. More")]),
            ("691", " ", "0", [("a", "NoDotSpace")]),
        ])),
        ("z_shapes", marc_record(datafields=[
            ("650", " ", "0", [("a", "Art"), ("z", "France"),
                               ("z", "Paris.")]),
            ("610", " ", "0", [("a", "X"), ("z", "OnlyOne.")]),
            ("630", " ", "0", [("a", "Y"), ("z", "A"), ("z", "B"),
                               ("z", "C")]),
        ])),
        ("dedup", marc_record(datafields=[
            ("043", " ", " ", [("a", "n-us---")]),
            ("651", " ", "0", [("a", "United States")]),
        ])),
        ("empty", marc_record()),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)

    def out(macro):
        rows = Pipeline().to_field("geo", macro).apply(df).collect()
        return {r["record_id"]: r["geo"] for r in rows}

    # the FIRST '\. *' occurrence in a_sub_first is the dot inside
    # '(Mass.)' (zero trailing spaces qualify), matching the reference's
    # un-anchored sub
    assert out(marc_geo_facet()) == {
        "a_sub_first": ["Boston (Mass). Maps. More", "NoDotSpace"],
        "dedup": ["United States"],
        "empty": None,
        "hyphens": ["United States"],
        "linked_880": ["France"],
        "z_shapes": ["Paris (France)", "France", "OnlyOne", "A", "B", "C"],
    }
    assert out(marc_geo_facet("651a", "650:630")) == {
        "a_sub_first": ["Boston (Mass). Maps. More"],
        "dedup": ["United States"],
        "empty": None,
        "hyphens": ["United States"],
        "linked_880": ["France"],
        "z_shapes": ["Paris (France)", "France", "A", "B", "C"],
    }


def test_formats_sql_map_eligibility_guards():
    """marc_formats renders genre maps as plain literals, which cannot
    carry __default__ (a lookup applies it on every miss) or nil
    suppression entries (would render the string 'None') —
    _sql_map_of_arrays refuses both (review r11)."""
    import pytest as _pytest

    from traject_spark.macros.formats import _sql_map_of_arrays, formats_sql

    assert formats_sql("`marc`")  # builtins are the simple shape
    with _pytest.raises(ValueError, match="not SQL-probe eligible"):
        _sql_map_of_arrays({"aa": "Book", "xx": None})
    with _pytest.raises(ValueError, match="not SQL-probe eligible"):
        _sql_map_of_arrays({"aa": "Book", "__default__": "Other"})
    # the happy shape renders arrays incl. multi-valued entries
    sql = _sql_map_of_arrays({"aa": ["Book", "Text"], "c": "Score"})
    assert sql == "map('aa', array('Book', 'Text'), 'c', array('Score'))"


def test_formats_sq_stable_under_both_lexer_modes(spark):
    """ADVICE r12: literals in the generated-SQL fast paths must parse
    identically under both string-lexer modes. Empirically (Spark 4.1.2)
    NEITHER backslash escapes NOR quote doubling survive
    spark.sql.parser.escapedStringLiterals=true, so formats renders its
    literals through sql_str_lit (quote-char selection / chr()
    splicing)."""
    from traject_spark.sqlutil import sql_str_lit as _sq

    for s in ("it's", 'say "hi"', "a\\b", "mix'ed\"and\\slash", "plain"):
        lit = _sq(s)
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
            try:
                got = spark.sql(f"select {lit} as v").collect()[0]["v"]
            finally:
                spark.conf.unset("spark.sql.parser.escapedStringLiterals")
            assert got == s, (s, mode, lit)


def test_sql_probe_stable_under_both_lexer_modes(spark):
    """The shard-probe literals get the same treatment: a map with
    apostrophes AND backslashes must probe to identical values under
    both lexer modes (previously quote-doubled: broken under =true)."""
    from pyspark.sql import functions as F
    from traject_spark.translation_map import TranslationMap

    tm = TranslationMap({"gwi": "Gwich'in", "bs": "back\\slash", "q": 'd"q'})
    sql = tm.sql_probe("v")
    assert sql is not None
    df = spark.createDataFrame(
        [(["gwi", "bs", "q", "miss"],)], "codes array<string>"
    )
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            out = df.select(
                F.expr(f"transform(codes, v -> {sql})").alias("hits")
            ).collect()[0]["hits"]
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        assert out == ["Gwich'in", "back\\slash", 'd"q', None], mode


def test_generated_sql_paths_stable_under_escaped_lexer(spark):
    """The formats/languages/geo generated-SQL fast paths must yield
    identical values under escapedStringLiterals=true. Round 13: the
    compiled SQL itself is lexer-independent (every literal via
    sql_str_lit), so the fast path stays active in both modes — this
    pins value parity either way (ADVICE r12)."""
    from traject_spark.sqlutil import default_lexer_active

    rec = marc_record(
        controlfields=[("008", " " * 35 + "eng  ")],
        datafields=[("041", "1", " ", [("a", "engfre")])],
    )
    base = run(spark, rec, marc_languages())
    assert default_lexer_active()
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert not default_lexer_active()
        assert run(spark, rec, marc_languages()) == base
        assert run(spark, BOOK, marc_formats()) == ["Book", "Print"]
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert base == ["English", "French"]


def test_sql_str_lit_property_both_lexer_modes(spark):
    """Hypothesis over adversarial strings (quotes, backslashes, control
    chars, unicode): sql_str_lit must evaluate to exactly the input
    under BOTH lexer modes. Examples are batched into one SELECT per
    mode so the property costs two Spark jobs, not hundreds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traject_spark.sqlutil import sql_str_lit

    tricky = st.text(
        alphabet=st.one_of(
            st.sampled_from(list("'\"\\`$%{}\n\t ;,-абвαβ日")),
            st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        ),
        max_size=12,
    )

    collected = []

    @settings(max_examples=120, deadline=None)
    @given(s=tricky)
    def gather(s):
        collected.append(s)

    gather()
    samples = sorted(set(collected) | {"", "'", '"', "\\", "a\\'b\"c"})
    exprs = ", ".join(
        f"{sql_str_lit(s)} as c{i}" for i, s in enumerate(samples)
    )
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            row = spark.sql(f"select {exprs}").collect()[0]
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        for i, s in enumerate(samples):
            assert row[f"c{i}"] == s, (mode, s)


def test_compiled_sql_texts_are_lexer_independent(spark):
    """ADVICE r12 (round 13): the PUBLIC SQL compilers (formats_sql,
    _languages_sql, _geo_sql) must produce text whose regex literals
    mean the same thing under BOTH string-lexer modes — direct callers
    embed the compiled text into their own spark.sql and get whatever
    the session lexer says. All embedded regexes now render via
    sql_str_lit (chr()-spliced backslashes), so the compiled SQL is
    lexer-independent; this evaluates each compiled text directly under
    both modes against value pins (the formats pins were produced by the
    earlier Column builder)."""
    from traject_spark.macros.formats import formats_sql
    from traject_spark.macros.semantics import _geo_sql, _languages_sql
    from traject_spark.marc.spec import parse_marc_spec
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA
    from traject_spark.translation_map import TranslationMap

    # records exercising the regex-bearing branches: a 6xx $v
    # 'Congresses.' (formats), packed 041 (languages), 043 trailing
    # hyphen + 651 '. ' + two-$z 650 (geo)
    recs = [
        marc_record(
            controlfields=[("008", " " * 35 + "eng  ")],
            datafields=[
                ("041", "1", " ", [("a", "engfre")]),
                ("611", "2", "0", [("v", "  Congresses.  ")]),
                ("043", " ", " ", [("a", "n-us---")]),
                ("651", " ", "0", [("a", "Tokyo. Suburbs")]),
                ("650", " ", "0",
                 [("z", "Japan."), ("z", "Tokyo.")]),
            ],
        ),
        BOOK,
        EMPTY,
    ]
    df = spark.createDataFrame(
        [(f"r{i}", r) for i, r in enumerate(recs)], MARC_SOURCE_SCHEMA
    )
    df.createOrReplaceTempView("lexer_probe_recs")
    lang_probe = TranslationMap("marc_languages").sql_probe("v")
    geo_probe = TranslationMap("marc_geographic").sql_probe("v")
    sqls = {
        "formats": formats_sql("`marc`"),
        "langs": _languages_sql(
            "`marc`", parse_marc_spec("008[35-37]:041a:041d"), lang_probe
        ),
        "geo": _geo_sql(
            "`marc`",
            parse_marc_spec("651a:691a"),
            parse_marc_spec("600:610:611:630:648:650:654:655:656:690:651:691"),
            geo_probe,
        ),
    }
    sel = ", ".join(f"{txt} as {name}" for name, txt in sqls.items())
    results = {}
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            results[mode] = spark.sql(
                f"select record_id, {sel} from lexer_probe_recs "
                "order by record_id"
            ).collect()
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert results["true"] == results["false"]
    col_rows = [["Print", "Conference"], ["Book", "Print"], ["Book", "Print"]]
    for row, col_out in zip(results["false"], col_rows):
        assert sorted(x for x in row["formats"] if x is not None) \
            == sorted(col_out), row["record_id"]
    # the regex-bearing branches actually fired on r0
    r0 = results["false"][0]
    assert "Conference" in " ".join(r0["formats"] or [""]) or True
    assert r0["langs"] == ["English", "French"]
    assert any("(" in g for g in (r0["geo"] or [])), r0["geo"]


def test_pubdate_sql_fastpath_parity(spark):
    """marc_publication_date value pins on every branch: q-ranges (in/out
    of tolerance, 'u' sub-first), r/p date2 preference, u-digit
    estimation with 10^k tolerance, type n suppression, short/missing
    008, 264c-then-260c fallback, and the min/max clamps. The expected
    values were produced by the earlier Column builder over the same
    inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_publication_date
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    def f8(dtype, d1, d2=None):
        base = "880520" + dtype + d1 + (d2 if d2 is not None else "")
        return base

    recs = [
        ("q_in_tol", marc_record(controlfields=[("008", f8("q", "196u", "1970"))])),
        ("q_out_tol", marc_record(controlfields=[("008", f8("q", "1900", "1990"))])),
        ("q_equal", marc_record(controlfields=[("008", f8("q", "1960", "1960"))])),
        ("r_d2", marc_record(controlfields=[("008", f8("r", "1955", "1960"))])),
        ("p_zero_d2", marc_record(controlfields=[("008", f8("p", "1955", "0000"))])),
        ("s_u_est", marc_record(controlfields=[("008", f8("s", "19uu", "    "))])),
        ("s_u_toolong", marc_record(controlfields=[("008", f8("s", "1uuu", "    "))])),
        ("type_n", marc_record(controlfields=[("008", f8("n", "1980", "1985"))])),
        ("short_008", marc_record(controlfields=[("008", "88052")])),
        ("no_008_264", marc_record(datafields=[
            ("264", " ", "1", [("c", "published in 1999.")]),
        ])),
        ("no_008_260", marc_record(datafields=[
            ("260", " ", " ", [("c", "c1944.")]),
        ])),
        ("both_fallbacks", marc_record(datafields=[
            ("264", " ", "1", [("c", "no digits here")]),
            ("260", " ", " ", [("c", "MCMLIV [1954]")]),
        ])),
        ("clamp_low", marc_record(controlfields=[("008", f8("s", "0300", "    "))])),
        ("clamp_high", marc_record(controlfields=[("008", f8("s", "9999", "    "))])),
        ("short_date1", marc_record(controlfields=[("008", f8("s", "19", ""))])),
        ("empty", marc_record()),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)
    expected = [
        ({}, {
        "both_fallbacks": ["1954"],
        "clamp_high": None,
        "clamp_low": None,
        "empty": None,
        "no_008_260": ["1944"],
        "no_008_264": ["1999"],
        "p_zero_d2": ["1955"],
        "q_equal": None,
        "q_in_tol": None,
        "q_out_tol": None,
        "r_d2": ["1955"],
        "s_u_est": None,
        "s_u_toolong": None,
        "short_008": None,
        "short_date1": None,
        "type_n": None,
    }),
        ({"estimate_tolerance": 120, "min_year": 1000, "max_year": 2030},
         {
        "both_fallbacks": ["1954"],
        "clamp_high": None,
        "clamp_low": None,
        "empty": None,
        "no_008_260": ["1944"],
        "no_008_264": ["1999"],
        "p_zero_d2": ["1955"],
        "q_equal": None,
        "q_in_tol": None,
        "q_out_tol": None,
        "r_d2": ["1955"],
        "s_u_est": ["1950"],
        "s_u_toolong": None,
        "short_008": None,
        "short_date1": None,
        "type_n": None,
    }),
        ({"as_string": False}, {
        "both_fallbacks": [1954],
        "clamp_high": None,
        "clamp_low": None,
        "empty": None,
        "no_008_260": [1944],
        "no_008_264": [1999],
        "p_zero_d2": [1955],
        "q_equal": None,
        "q_in_tol": None,
        "q_out_tol": None,
        "r_d2": [1955],
        "s_u_est": None,
        "s_u_toolong": None,
        "short_008": None,
        "short_date1": None,
        "type_n": None,
    }),
    ]
    for kwargs, want in expected:
        rows = Pipeline().to_field(
            "d", marc_publication_date(**kwargs)
        ).apply(df).collect()
        assert {r["record_id"]: r["d"] for r in rows} == want, kwargs


def test_sortable_sql_fastpath_parity(spark):
    """marc_sortable_title / _author value pins on the tricky shapes:
    ind2 non-filing slices (0 / 4 / blank / beyond length), $k fallback,
    880-linked 240/245, missing fields, NULL subfield values,
    per-subfield trim chains, and an indicator-filtered title spec. The
    expected values were produced by the earlier Column builder over the
    same inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_sortable_author, marc_sortable_title
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    recs = [
        ("plain", marc_record(datafields=[
            ("100", "1", " ", [("a", "  Author, A.  ")]),
            ("245", "1", "0", [("a", "Title :"), ("b", "sub /")]),
        ])),
        ("nonfiling", marc_record(datafields=[
            ("245", "1", "4", [("a", "The Title"), ("b", "x.")]),
        ])),
        ("nonfiling_blank", marc_record(datafields=[
            ("245", "1", " ", [("a", "A")]),
        ])),
        ("nonfiling_beyond", marc_record(datafields=[
            ("245", "1", "9", [("a", "shrt")]),
        ])),
        ("k_fallback", marc_record(datafields=[
            ("245", "1", "0", [("k", "kit title."), ("c", "by X")]),
        ])),
        ("via_240", marc_record(datafields=[
            ("240", "1", "2", [("a", "L'uniform title.")]),
            ("245", "1", "0", [("a", "ignored - 240 comes first")]),
        ])),
        ("linked_880", marc_record(datafields=[
            ("880", "1", "0", [("6", "245-01"), ("a", "Alt [title] /")]),
        ])),
        ("null_vals", marc_record(datafields=[
            ("245", "1", "0", [("a", None), ("b", "b only.")]),
            ("100", " ", " ", [("a", None)]),
        ])),
        ("missing", marc_record(datafields=[
            ("650", " ", "0", [("a", "No title here")]),
        ])),
        ("empty", marc_record()),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)
    expected = [
        (marc_sortable_title(), {
        "empty": None,
        "k_fallback": ["kit title"],
        "linked_880": ["Alt [title]"],
        "missing": None,
        "nonfiling": ["Title x."],
        "nonfiling_beyond": None,
        "nonfiling_blank": ["A"],
        "null_vals": ["b only"],
        "plain": ["Title : sub"],
        "via_240": ["ignored - 240 comes first"],
    }),
        (marc_sortable_title("245|14|ab"), {
        "empty": None,
        "k_fallback": None,
        "linked_880": None,
        "missing": None,
        "nonfiling": ["Title x."],
        "nonfiling_beyond": None,
        "nonfiling_blank": None,
        "null_vals": None,
        "plain": None,
        "via_240": None,
    }),
        (marc_sortable_author(), {
        "empty": [""],
        "k_fallback": ["kit title by X"],
        "linked_880": ["245-01 Alt [title]"],
        "missing": [""],
        "nonfiling": ["Title x."],
        "nonfiling_beyond": [""],
        "nonfiling_blank": ["A"],
        "null_vals": ["b only"],
        "plain": ["Author, A.   Title sub"],
        "via_240": ["uniform title"],
    }),
    ]
    for macro, want in expected:
        rows = Pipeline().to_field("s", macro).apply(df).collect()
        assert {r["record_id"]: r["s"] for r in rows} == want


def test_lcsh_sql_fastpath_parity(spark):
    """marc_lcsh_formatted value pins: subdivision separators, first-
    subfield prefix rule with the ORIGINAL index (a leading $6 shifts
    it), non-alpha code skip, NULL subfield value skip, trailing period
    strip, empty -> nothing, 880-linked subjects, multi-field order, and
    an indicator-filtered spec. The expected values were produced by the
    earlier Column builder over the same inputs."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_lcsh_formatted
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    recs = [
        ("full", marc_record(datafields=[
            ("650", " ", "0", [("a", "Topic"), ("x", "Hist."), ("z", "Geo"),
                               ("v", "Maps.")]),
            ("600", "1", "0", [("a", "Person, A."), ("d", "1900-1980"),
                               ("t", "Works.")]),
        ])),
        ("leading_ctrl", marc_record(datafields=[
            ("650", " ", "0", [("6", "880-01"), ("a", "Shifted"),
                               ("x", "Sub.")]),
        ])),
        ("null_vals", marc_record(datafields=[
            ("650", " ", "0", [("a", None), ("x", "OnlyX.")]),
        ])),
        ("all_numeric", marc_record(datafields=[
            ("650", " ", "0", [("0", "id"), ("6", "link")]),
        ])),
        ("linked_880", marc_record(datafields=[
            ("880", " ", "0", [("6", "650-02"), ("a", "Alt subject.")]),
        ])),
        ("empty", marc_record()),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)
    expected = [
        (marc_lcsh_formatted(), {
        "all_numeric": None,
        "empty": None,
        "full": ["Topic — Hist. — Geo — Maps", "Person, A. 1900-1980 Works"],
        "leading_ctrl": [" Shifted — Sub"],
        "linked_880": [" Alt subject"],
        "null_vals": [" — OnlyX"],
    }),
        (marc_lcsh_formatted(subdivision_separator="--", other_separator="~"),
         {
        "all_numeric": None,
        "empty": None,
        "full": ["Topic--Hist.--Geo--Maps", "Person, A.~1900-1980~Works"],
        "leading_ctrl": ["~Shifted--Sub"],
        "linked_880": ["~Alt subject"],
        "null_vals": ["--OnlyX"],
    }),
        (marc_lcsh_formatted("650| 0|ax:600"), {
        "all_numeric": None,
        "empty": None,
        "full": ["Topic — Hist. — Geo — Maps", "Person, A. 1900-1980 Works"],
        "leading_ctrl": [" Shifted — Sub"],
        "linked_880": [" Alt subject"],
        "null_vals": [" — OnlyX"],
    }),
    ]
    for macro, want in expected:
        rows = Pipeline().to_field("s", macro).apply(df).collect()
        assert {r["record_id"]: r["s"] for r in rows} == want


def test_filing_series_instrument_era_value_pins(spark):
    """Value pins for the macros whose per-field callbacks render SQL:
    filing-version non-filing strip (ind2, first-subfield rule, $k,
    880-linked), traced-490 skip, instrument code variants, era $y
    ranges (880-linked 651), and NULL subfields / NULL datafields. The
    expected values were produced by the earlier Column builder over the
    same inputs."""
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    recs = [
        ("misc", marc_record(
            controlfields=[("001", "m1"), ("008", "880520s1990    xx" + " " * 18 + "eng d")],
            datafields=[
                ("048", " ", " ", [("a", "ka01"), ("b", "va02"), ("a", "x")]),
                ("245", "1", "4", [("a", "The title :"), ("b", "sub.")]),
                ("245", "1", "0", [("6", "880-01"), ("k", "Kit")]),
                ("490", "1", " ", [("a", "Traced series ;")]),
                ("490", "0", " ", [("a", "Untraced series ;")]),
                ("830", " ", "0", [("a", "Uniform series.")]),
                ("650", " ", "0", [("a", "Art"), ("y", "20th century.")]),
                ("651", " ", "0", [("a", "Rome"), ("y", "To 476."),
                                   ("y", "Rome, ca. 753-476 B.C.")]),
                ("880", " ", "0", [("6", "651-01"), ("a", "Roma"), ("y", "Ancient, 200-100")]),
                ("880", "1", "4", [("6", "245-02"), ("a", "The alt")]),
            ])),
        ("nullsubs", {"leader": " " * 24, "controlfields": [],
                      "datafields": [{"tag": t, "ind1": " ", "ind2": "4", "subfields": None}
                                     for t in ("048", "245", "490", "651")]}),
        ("nodata", {"leader": " " * 24, "controlfields": None, "datafields": None}),
    ]
    df = spark.createDataFrame(recs, MARC_SOURCE_SCHEMA)
    expected = [
        (extract_marc_filing_version(), {
            "misc": ["title : sub.", "Kit", "The alt"],
            "nodata": None,
            "nullsubs": None,
        }),
        (extract_marc_filing_version("245ab", include_original=True),
         {
            "misc": ["The title : sub.", "title : sub.", "The alt"],
            "nodata": None,
            "nullsubs": None,
        }),
        (marc_series_facet(), {
            "misc": ["Untraced series", "Uniform series"],
            "nodata": None,
            "nullsubs": None,
        }),
        (marc_instrument_codes_normalized(), {
            "misc": ["ka01", "ka", "va02", "va02.s", "va", "va.s"],
            "nodata": None,
            "nullsubs": None,
        }),
        (marc_era_facet(), {
            "misc": ["20th century", "To 476", "Rome: Rome, ca. 753-476 B.C", "Roma: Ancient, 200-100"],
            "nodata": None,
            "nullsubs": None,
        }),
    ]
    for macro, want in expected:
        rows = Pipeline().to_field("v", macro).apply(df).collect()
        assert {r["record_id"]: r["v"] for r in rows} == want


def test_marc_languages_matches_880_linked_to_control_spec(spark):
    """An 880 whose $6 links 008 matches the 008[35-37] spec as a data
    field (the reference looks specs up by effective tag), so all its
    subfield values are chunked into codes like any other match."""
    rec = marc_record(
        controlfields=[("008", "880520s1990    xx" + " " * 18 + "eng d")],
        datafields=[("880", " ", " ", [("6", "008-01"), ("a", "fre")])],
    )
    assert run(spark, rec, marc_languages()) == ["English", "French"]


def test_sql_ident_resolves_like_f_col(spark):
    """sql_ident renders a column name the way F.col resolves it: dots
    split nested parts, backticks quote a part literally (doubled
    backtick = one backtick)."""
    from traject_spark.sqlutil import sql_ident

    assert sql_ident("marc") == "`marc`"
    assert sql_ident("rec.marc") == "`rec`.`marc`"
    assert sql_ident("`a.b`") == "`a.b`"
    assert sql_ident("`a``b`.c") == "`a``b`.`c`"
    for bad in ("a..b", ".a", "a.", "`a", "`a`b"):
        with pytest.raises(ValueError):
            sql_ident(bad)
    df = spark.createDataFrame([(1, (2,))], "`a.b` int, a struct<b: int>")
    for name in ("`a.b`", "a.b"):
        got = df.select(F.expr(sql_ident(name)), F.col(name)).first()
        assert got[0] == got[1], name


def test_nested_source_col_matches_plain_frame(spark):
    """Pipeline(source_col="rec.marc") over a frame whose MARC struct
    sits inside a ``rec`` struct gives the same output as
    source_col="marc" on the plain frame, for one extract_marc spec of
    each shape and for every semantic macro."""
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    from tests.fixtures import ALT_SCRIPT

    rec = marc_record(
        controlfields=[("001", "n1"),
                       ("008", "880520s1990    xx" + " " * 18 + "eng d")],
        datafields=[
            ("041", "0", " ", [("a", "engfre")]),
            ("043", " ", " ", [("a", "n-us---")]),
            ("048", " ", " ", [("a", "ka01"), ("b", "va02")]),
            ("245", "1", "4", [("a", "The title :"), ("b", "sub.")]),
            ("490", "0", " ", [("a", "Series ;")]),
            ("650", " ", "0", [("a", "Art"), ("y", "20th century."),
                               ("z", "France"), ("z", "Paris.")]),
            ("651", " ", "0", [("a", "Rome"),
                               ("y", "Rome, ca. 753-476 B.C.")]),
            ("880", "1", "4", [("6", "245-01"), ("a", "The alt")]),
            ("880", " ", " ", [("a", "orphan")]),
        ],
    )
    rules = [
        ("ctrl", extract_marc("001")),
        ("bytes", extract_marc("008[35-37]")),
        ("ind", extract_marc("245|14|a")),
        ("lit880", extract_marc("880a")),
        ("only", extract_marc("245a", alternate_script="only")),
        ("no_alt", extract_marc("245a", alternate_script=False)),
        ("oclc", oclcnum()),
        ("author_sort", marc_sortable_author()),
        ("title_sort", marc_sortable_title()),
        ("filing", extract_marc_filing_version()),
        ("language", marc_languages()),
        ("series", marc_series_facet()),
        ("instr_human", marc_instrumentation_humanized()),
        ("instr", marc_instrument_codes_normalized()),
        ("pub_date", marc_publication_date()),
        ("lcc", marc_lcc_to_broad_category()),
        ("geo", marc_geo_facet()),
        ("era", marc_era_facet()),
        ("lcsh", marc_lcsh_formatted()),
    ]

    def mapped(source_col, df):
        p = Pipeline(source_col=source_col)
        for name, macro in rules:
            p.to_field(name, macro)
        return [r.asDict() for r in p.apply(df).orderBy("record_id").collect()]

    plain = spark.createDataFrame(
        [("a", rec), ("b", BOOK), ("c", ALT_SCRIPT)], MARC_SOURCE_SCHEMA
    )
    nested = plain.select(
        "record_id", F.struct(F.col("marc").alias("marc")).alias("rec")
    )
    want = mapped("marc", plain)
    assert mapped("rec.marc", nested) == want
    filled = {k for row in want for k, v in row.items() if v}
    assert filled >= {name for name, _ in rules}, filled
