"""MARC21 semantic derivation macros.

Ports of lib/traject/macros/marc21_semantics.rb — opinionated,
deterministic record->values functions, each rendered as Spark SQL text
through the extractor's renderer and built with ONE ``F.expr`` (no UDF,
no shuffle). Every function cites the reference lines whose behavior it
replicates, including the reference's own quirks (Ruby #to_i prefix
parsing, sub-vs-gsub first-occurrence replacement, un-anchored period
stripping) — those are part of the contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import sql_let
from traject_spark.marc.extractor import (
    EFFECTIVE_TAG_SQL,
    collect_matching_lines,
    collect_subfields_sql,
    extract_sql,
    source_sql,
)
from traject_spark.marc.spec import parse_marc_spec
from traject_spark.sqlutil import EMPTY_SQL, sql_ident
from traject_spark.sqlutil import sql_str_lit as _rx_lit
from traject_spark.translation_map import TranslationMap

#: geo-facet regexes, rendered through sql_str_lit so the compiled text
#: is lexer-independent
_GEO_HYPHEN_RX = r"\-+\Z"
_GEO_DOT_SPLIT_RX = r"(?s)\A(.*?)(?:\. *)(.*)\Z"
_GEO_TRAIL_DOT_RX = r"\. *\Z"
_GEO_HYPHEN_LIT = _rx_lit(_GEO_HYPHEN_RX)
_GEO_DOT_SPLIT_LIT = _rx_lit(_GEO_DOT_SPLIT_RX)
_GEO_TRAIL_DOT_LIT = _rx_lit(_GEO_TRAIL_DOT_RX)


# --- SQL forms of the shared string transforms -----------------------------

#: same pattern strings the Column builders in transforms.py compose
_STRIP_PAT = _rx_lit(r"\A[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r\x00]+\Z")


def _sql_strip(v_sql: str) -> str:
    """SQL form of transforms.ruby_string_strip_expr."""
    return f"regexp_replace({v_sql}, {_STRIP_PAT}, '')"


_TRIM1 = _rx_lit(r" *[ ,/;:] *\Z")
_TRIM2 = _rx_lit(r"(?U)( *\w{3,})\. *\Z")
_TRIM3 = _rx_lit(r"\A\[?([^\[\]]+)\]?\Z")


def _sql_trim_punct(v_sql: str) -> str:
    """SQL form of transforms.trim_punctuation_expr (same four regexes
    in the same order)."""
    v1 = f"regexp_replace({v_sql}, {_TRIM1}, '')"
    v2 = f"regexp_replace({v1}, {_TRIM2}, {_rx_lit('$1')})"
    v3 = f"regexp_replace({v2}, {_TRIM3}, {_rx_lit('$1')})"
    return _sql_strip(v3)


def _sql_to_i(v_sql: str) -> str:
    """Ruby String#to_i: parse leading integer prefix, else 0 (SQL form
    of transforms.ruby_to_i_expr)."""
    pat = _rx_lit(r"\A\s*([+-]?\d+)")
    d = f"regexp_extract({v_sql}, {pat}, 1)"
    return (
        f"coalesce(CAST(CASE WHEN {d} != '' THEN {d} END AS bigint), "
        "CAST(0 AS bigint))"
    )


def _sql_sub_first(v_sql: str, pattern_no_groups: str, replacement: str) -> str:
    """Ruby String#sub: replace FIRST occurrence only. Java regexp_replace
    replaces all, so wrap: ^(.*?)PAT(.*)$ -> $1<repl>$2.
    ``pattern_no_groups`` must not contain capturing groups."""
    pat = _rx_lit(r"(?s)\A(.*?)" + f"(?:{pattern_no_groups})" + r"(.*)\Z")
    rep = _rx_lit("$1" + replacement + "$2")
    return f"regexp_replace({v_sql}, {pat}, {rep})"


def _sql_nonfiling(s_sql: str, ind2_sql: str) -> str:
    """str.slice(ind2.to_i, len): '' when start == len, NULL when
    start > len."""
    return sql_let(
        s_sql,
        "nfs",
        sql_let(
            _sql_to_i(ind2_sql),
            "nfn",
            "CASE WHEN length(nfs) >= nfn THEN "
            "substring(nfs, CAST((nfn + 1) AS int), 2000000) END",
        ),
    )


def _first_field_sql(src: str, cond: str, body: str) -> str:
    """``body`` over the record's first data field matching ``cond``;
    ``cond`` reads the field as ``f``, ``body`` as ``fld``."""
    return sql_let(
        f"get(filter({src}.datafields, f -> {cond}), 0)", "fld", body
    )


# ---------------------------------------------------------------------------
# oclcnum (marc21_semantics.rb:18-48)
# ---------------------------------------------------------------------------

#: Ruby OCLCPAT (marc21_semantics.rb:35-40), /x whitespace stripped, Java form
OCLCPAT = r"\A\s*(?:\(OCoLC\)|(?:\(OCoLC\))?(?:ocm|ocn|on))(\d+)"
_OCLCPAT_LIT = _rx_lit(OCLCPAT)


def oclcnum(spec: str = "035a"):
    """Extract OCLC numbers: known prefixes stripped to digits, non-matches
    dropped, de-duplicated (marc21_semantics.rb:18-48)."""
    parsed = parse_marc_spec(spec)

    def macro(acc: Column, ctx=None) -> Column:
        nums = (
            f"transform({extract_sql(source_sql(ctx), parsed, None)}, "
            f"v -> regexp_extract(v, {_OCLCPAT_LIT}, 1))"
        )
        return F.concat(acc, F.expr(
            f"array_distinct(filter({nums}, "
            "x -> (x IS NOT NULL) AND (x != '')))"
        ))

    return macro


# ---------------------------------------------------------------------------
# sortable author / title (marc21_semantics.rb:66-118)
# ---------------------------------------------------------------------------

def marc_sortable_author():
    """Concat of first 100/110/111 (first+strip) and first 240-else-245
    title with ind2 non-filing chars stripped; ALWAYS appends one string,
    '' when nothing found (marc21_semantics.rb:66-88).

    Reference quirk preserved: get_sortable_author passes
    ``:trim_punctuation => true`` to MarcExtractor.cached, but
    MarcExtractor#extract never reads that option (only the Marc21 macro
    layer does, marc21.rb:115-140) — so the author is NOT
    trim-punctuated, only stripped. The per-subfield trim on the TITLE
    half is explicit in the reference (marc21_semantics.rb:80) and kept.
    """
    onexx_spec = parse_marc_spec("100:110:111")
    joined = (
        "array_join(transform(fld.subfields, sf -> "
        + _sql_strip(_sql_trim_punct(_sql_strip("sf.value")))
        + "), ' ')"
    )
    with_field = _sql_strip(_sql_nonfiling(joined, "fld.ind2"))

    def macro(acc: Column, ctx=None) -> Column:
        src = source_sql(ctx)
        onexx = _sql_strip(f"get({extract_sql(src, onexx_spec, ' ')}, 0)")
        title = _first_field_sql(
            src, f"({EFFECTIVE_TAG_SQL}) IN ('240', '245')", with_field
        )
        # [onexx, title].compact.join("   ") — concat_ws skips NULLs
        return F.concat(
            acc, F.expr(f"array(concat_ws('   ', {onexx}, {title}))")
        )

    return macro


def marc_sortable_title(spec: str = "245ab"):
    """First 245ab (fallback first $k), ind2 non-filing chars stripped,
    trim_punctuation; nothing appended when no field
    (marc21_semantics.rb:92-118)."""
    (parsed,) = parse_marc_spec(spec)
    # honor indicator filters a CUSTOM spec carries (the reference's
    # hardcoded '245ab' never has them, but its collect_matching_lines
    # would apply them if it did — the faithful generalization of our
    # net-new spec parameter)
    cond = f"({EFFECTIVE_TAG_SQL}) = {_rx_lit(parsed.tag)}"
    if parsed.ind1 is not None:
        cond += f" AND (f.ind1 = {_rx_lit(parsed.ind1)})"
    if parsed.ind2 is not None:
        cond += f" AND (f.ind2 = {_rx_lit(parsed.ind2)})"
    joined = f"get({collect_subfields_sql('fld', parsed, ' ')}, 0)"
    k = "get(filter(fld.subfields, sf -> sf.code = 'k'), 0).value"
    with_field = _sql_trim_punct(
        _sql_nonfiling(f"coalesce({joined}, {k})", "fld.ind2")
    )

    def macro(acc: Column, ctx=None) -> Column:
        st = _first_field_sql(source_sql(ctx), cond, with_field)
        return F.concat(
            acc, F.expr(f"filter(array({st}), x -> x IS NOT NULL)")
        )

    return macro


def extract_marc_filing_version(spec: str = "245abdefghknp", include_original: bool = False):
    """Generic non-filing strip (marc21_semantics.rb:129-181): for each
    matching field take the FIRST collected value; strip ind2 chars iff
    ind2 > 0 AND the spec names the field's first subfield code.

    Note: the reference calls ``field.subfields.first{...}`` — Array#first
    ignores the block, so the check uses the FIRST subfield's code, not the
    first *alphabetic* one; replicated faithfully (marc21_semantics.rb:170).
    """
    parsed = parse_marc_spec(spec)

    def per_field(f: str, s) -> str:
        spec_covers = (
            "false"
            if s.subfields is None
            else f"get({f}.subfields, 0).code IN ("
            + ", ".join(_rx_lit(c) for c in s.subfields)
            + ")"
        )
        filing = (
            f"CASE WHEN ({_sql_to_i(f + '.ind2')} > 0) AND ({spec_covers}) "
            f"THEN {_sql_nonfiling('head', f + '.ind2')} ELSE head END"
        )
        out = (
            f"array_distinct(array(head, {filing}))"
            if include_original
            else f"array({filing})"
        )
        return sql_let(
            f"get({collect_subfields_sql(f, s, ' ')}, 0)",
            "head",
            f"CASE WHEN (head IS NOT NULL) AND (head != '') THEN {out} "
            f"ELSE {EMPTY_SQL} END",
        )

    def macro(acc: Column, ctx=None) -> Column:
        return F.concat(
            acc,
            F.expr(collect_matching_lines(source_sql(ctx), parsed, per_field)),
        )

    return macro


# ---------------------------------------------------------------------------
# languages (marc21_semantics.rb:195-223)
# ---------------------------------------------------------------------------

def _chunked_codes(f: str, s) -> str:
    """Subfield values with packed >3-char values chunked into 3-char
    codes (marc21_semantics.rb:203-210)."""
    return (
        f"flatten(transform({collect_subfields_sql(f, s, None)}, "
        "v -> CASE WHEN length(v) = 3 THEN array(v) "
        f"ELSE regexp_extract_all(v, {_rx_lit('(.{1,3})')}, 1) END))"
    )


def _languages_sql(src: str, specs, probe_sql: Optional[str]) -> str:
    """De-duplicated language codes of ``specs`` over the record struct
    ``src``; with ``probe_sql`` (a TranslationMap.sql_probe over ``v``)
    the codes are translated and misses dropped."""
    codes = (
        f"array_distinct({collect_matching_lines(src, specs, _chunked_codes)})"
    )
    if probe_sql is None:
        return codes
    return f"filter(transform({codes}, v -> {probe_sql}), x -> x IS NOT NULL)"


def marc_languages(
    spec: str = "008[35-37]:041a:041d",
    translation_map: Optional[TranslationMap] = None,
):
    """Byte-slice + subfield codes; packed >3-char values chunked into
    3-char codes; de-dup; translate (marc21_semantics.rb:195-223)."""
    parsed = parse_marc_spec(spec)
    if translation_map is None:
        translation_map = TranslationMap("marc_languages")
    elif not isinstance(translation_map, TranslationMap):
        translation_map = TranslationMap(translation_map)
    probe_sql = translation_map.sql_probe("v")

    def macro(acc: Column, ctx=None) -> Column:
        codes = F.expr(_languages_sql(source_sql(ctx), parsed, probe_sql))
        if probe_sql is None:
            codes = translation_map.translate_array_expr(codes)
        return F.concat(acc, codes)

    return macro


# ---------------------------------------------------------------------------
# series facet (marc21_semantics.rb:230-245)
# ---------------------------------------------------------------------------

def marc_series_facet(
    spec: str = "440a:490a:800abcdt:810abcdt:811acdeft:830adfgklmnoprst",
):
    """Series spec, skipping 490 when ind1='1' (series traced); values
    trim-punctuated, NOT de-duplicated (marc21_semantics.rb:230-245)."""
    parsed = parse_marc_spec(spec)

    def per_field(f: str, s) -> str:
        return (
            f"CASE WHEN ({f}.tag = '490') AND ({f}.ind1 = '1') "
            f"THEN {EMPTY_SQL} ELSE {collect_subfields_sql(f, s, ' ')} END"
        )

    def macro(acc: Column, ctx=None) -> Column:
        vals = collect_matching_lines(source_sql(ctx), parsed, per_field)
        return F.concat(
            acc, F.expr(f"transform({vals}, v -> {_sql_trim_punct('v')})")
        )

    return macro


# ---------------------------------------------------------------------------
# instruments (marc21_semantics.rb:252-305)
# ---------------------------------------------------------------------------

def marc_instrumentation_humanized(
    spec: str = "048ab", translation_map=None
):
    """First 2 chars of 048 codes through the instruments map, de-dup
    (marc21_semantics.rb:252-264).  Missing-key lookups become NULL and
    survive to add_output (reference keeps nils from map[] misses too).

    Documented deviation for ARRAY-valued custom map entries: the
    reference appends the raw array as one nested element (its concat
    does not flatten); a flat array<string> column can't nest, so all
    elements are flattened in. The builtin marc_instruments map is
    scalar-valued, where the two behaviors are identical."""
    parsed = parse_marc_spec(spec)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "marc_instruments")
    )

    def macro(acc: Column, ctx=None) -> Column:
        vals = F.expr(extract_sql(source_sql(ctx), parsed, None))
        human = F.array_distinct(
            F.flatten(
                F.transform(
                    vals,
                    lambda v: F.coalesce(
                        tmap.lookup_expr(F.substring(v, 1, 2)),
                        F.array(F.lit(None).cast("string")),
                    ),
                )
            )
        )
        return F.concat(acc, human)

    return macro


def marc_instrument_codes_normalized(spec: str = "048"):
    """048 codes indexed as full code, 2-char prefix, and '.s'-suffixed
    variants for $b soloist subfields; de-dup (marc21_semantics.rb:275-305)."""
    parsed = parse_marc_spec(spec)
    long_enough = "length(sf.value) >= 2"
    has_number = "length(sf.value) >= 4"
    is_b = "sf.code = 'b'"
    variants = [
        (long_enough, "sf.value"),
        (f"({long_enough}) AND ({is_b})", "concat(sf.value, '.s')"),
        (f"({long_enough}) AND ({has_number})", "substring(sf.value, 1, 2)"),
        (
            f"({long_enough}) AND ({has_number}) AND ({is_b})",
            "concat(substring(sf.value, 1, 2), '.s')",
        ),
    ]
    per_sf = ", ".join(
        f"CASE WHEN {cond} THEN array({v}) ELSE {EMPTY_SQL} END"
        for cond, v in variants
    )

    def per_field(f: str, s) -> str:
        return f"flatten(transform({f}.subfields, sf -> concat({per_sf})))"

    def macro(acc: Column, ctx=None) -> Column:
        vals = collect_matching_lines(source_sql(ctx), parsed, per_field)
        return F.concat(acc, F.expr(f"array_distinct({vals})"))

    return macro


# ---------------------------------------------------------------------------
# publication date (marc21_semantics.rb:316-394)
# ---------------------------------------------------------------------------

def _pubdate_sql(
    src: str, estimate_tolerance: int, min_year: int, max_year: int
) -> str:
    """The reference's single-date decision procedure as ONE SQL
    expression (bigint, nullable) over the record struct ``src``.

    Logic (marc21_semantics.rb:335-394):
    - 008 with length >= 11: date_type = byte 6, date1 = bytes 7-10,
      date2 = bytes 11-14 when length > 15 else date1;
    - type q with date1 != date2: range midpoint ((d1.sub u->0) +
      (d2.sub u->9))/2 if 0 < d2-d1 <= tolerance  [Ruby sub: FIRST 'u' only,
      then #to_i prefix parse];
    - else, type not in (n, q): prefer date2 for r/p when nonzero; every
      'u' digit -> 0, midpoint via 10^ucount when within tolerance;
    - fallback: first 4 digits found in 264c, then 260c;
    - clamp to [min_year, max_year].

    Every shared piece is let-bound (sql_let): the naive formulation
    duplicated the 008 subtree hundreds of times and took minutes to
    plan/codegen. The dtype/d1!=d2 guards sit OUTSIDE the let bindings:
    CASE only evaluates its value expression when the condition holds,
    so the regex subs are skipped for the (dominant) non-'q' records.
    """
    tol = int(estimate_tolerance)

    # --- 008 branch -------------------------------------------------------
    q_inner = (
        f"CASE WHEN (q2 > q1) AND ((q2 - q1) <= {tol}) "
        "THEN CAST(floor((q1 + q2) / 2) AS bigint) END"
    )
    q_val = (
        "CASE WHEN (dtype = 'q') AND (d1 != d2) THEN "
        + sql_let(
            _sql_to_i(_sql_sub_first("d1", "u", "0")),
            "q1",
            sql_let(_sql_to_i(_sql_sub_first("d2", "u", "9")), "q2", q_inner),
        )
        + " END"
    )
    date_str = (
        f"CASE WHEN (dtype IN ('r', 'p')) AND ({_sql_to_i('d2')} != 0) "
        "THEN d2 ELSE d1 END"
    )
    delta_body = (
        f"CASE WHEN (ucount > 0) AND (date_num != 0) THEN "
        f"(CASE WHEN delta <= {tol} "
        "THEN CAST((date_num + floor(delta / 2)) AS bigint) END) "
        "ELSE (CASE WHEN date_num != 0 THEN date_num END) END"
    )
    single_inner = sql_let(
        "CAST(power(CAST(10.0 AS double), CAST(ucount AS double)) AS bigint)",
        "delta",
        delta_body,
    )
    single_val = (
        "CASE WHEN NOT (dtype IN ('n', 'q')) THEN "
        + sql_let(
            date_str,
            "ds",
            sql_let(
                "CAST((length(ds) - length(translate(ds, 'u', ''))) AS bigint)",
                "ucount",
                sql_let(
                    _sql_to_i("translate(ds, 'u', '0')"),
                    "date_num",
                    single_inner,
                ),
            ),
        )
        + " END"
    )
    body = (
        "CASE WHEN (f8 IS NOT NULL) AND (length(f8) >= 11) THEN "
        f"coalesce({q_val}, {single_val}) END"
    )
    f8_raw = f"get(filter({src}.controlfields, f -> f.tag = '008'), 0).value"
    from_008 = sql_let(
        f8_raw,
        "f8",
        sql_let(
            "substring(f8, 7, 1)",
            "dtype",
            sql_let(
                "substring(f8, 8, 4)",
                "d1",
                sql_let(
                    "CASE WHEN length(f8) > 15 THEN substring(f8, 12, 4) "
                    "ELSE substring(f8, 8, 4) END",
                    "d2",
                    body,
                ),
            ),
        ),
    )

    # --- 264c / 260c fallback: first 4-digit run anywhere -----------------
    def four_digits(spec: str) -> str:
        first = f"get({extract_sql(src, parse_marc_spec(spec), None)}, 0)"
        return sql_let(
            f"regexp_extract({first}, {_FOUR_DIGITS}, 1)",
            "g4",
            "CASE WHEN (g4 IS NOT NULL) AND (g4 != '') "
            "THEN CAST(g4 AS bigint) END",
        )

    fallback = f"coalesce({four_digits('264c')}, {four_digits('260c')})"

    return sql_let(
        f"coalesce({from_008}, {fallback})",
        "found",
        "CASE WHEN (found IS NOT NULL) AND "
        f"(found >= {int(min_year)}) AND (found <= {int(max_year)}) "
        "THEN found END",
    )


_FOUR_DIGITS = _rx_lit(r"(\d{4})")


def _default_max_year() -> int:
    import datetime

    return datetime.date.today().year + 6


def publication_date_expr(
    source: str = "marc",
    estimate_tolerance: int = 15,
    min_year: int = 500,
    max_year: Optional[int] = None,
) -> Column:
    """The publication date (long, nullable) of the record column named
    ``source`` (resolved like ``F.col``) — see :func:`_pubdate_sql`."""
    if max_year is None:
        max_year = _default_max_year()
    return F.expr(
        _pubdate_sql(sql_ident(source), estimate_tolerance, min_year, max_year)
    )


def marc_publication_date(
    estimate_tolerance: int = 15,
    min_year: int = 500,
    max_year: Optional[int] = None,
    as_string: bool = True,
):
    """Macro form: appends the single date when found
    (marc21_semantics.rb:316-332).  ``as_string`` keeps the accumulator
    uniformly array<string> (writers serialize the digits); set False when
    composing a typed column directly via publication_date_expr."""
    if max_year is None:
        max_year = _default_max_year()

    def macro(acc: Column, ctx=None) -> Column:
        d_sql = _pubdate_sql(
            source_sql(ctx), estimate_tolerance, min_year, max_year
        )
        v_sql = f"CAST({d_sql} AS string)" if as_string else d_sql
        return F.concat(
            acc, F.expr(f"filter(array({v_sql}), x -> x IS NOT NULL)")
        )

    return macro


# ---------------------------------------------------------------------------
# LCC broad category (marc21_semantics.rb:396-433)
# ---------------------------------------------------------------------------

#: Ruby LCC_REGEX (marc21_semantics.rb:398), Java syntax
LCC_REGEX = r"\A *[A-Z]{1,3}[ .]*(?:(\d+)(?:\s*?\.\s*?(\d+))?).*"
_LCC_LIT = _rx_lit(LCC_REGEX)


def marc_lcc_to_broad_category(
    spec: str = "050a:060a:090a:096a",
    default: Optional[str] = "Unknown",
    translation_map=None,
):
    """Keep LCC-shaped values, first letter -> lcc_top_level map, de-dup,
    default 'Unknown' (marc21_semantics.rb:411-433)."""
    parsed = parse_marc_spec(spec)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "lcc_top_level")
    )
    probe_sql = tmap.sql_probe("v")

    def macro(acc: Column, ctx=None) -> Column:
        letters = (
            f"transform(filter({extract_sql(source_sql(ctx), parsed, None)}, "
            f"v -> rlike(v, {_LCC_LIT})), v -> substring(ltrim(v), 1, 1))"
        )
        if probe_sql is None:
            mapped = F.array_distinct(
                tmap.translate_array_expr(F.expr(letters))
            )
        else:
            mapped = F.expr(
                f"array_distinct(filter(transform({letters}, "
                f"v -> {probe_sql}), x -> x IS NOT NULL))"
            )
        out = F.concat(acc, mapped)
        if default is not None:
            out = F.when(F.size(out) == 0, F.array(F.lit(default))).otherwise(out)
        return out

    return macro


# ---------------------------------------------------------------------------
# geographic facet (marc21_semantics.rb:444-491)
# ---------------------------------------------------------------------------

_GEO_CODES = parse_marc_spec("043a")


def _geo_z_per_field(f: str, s) -> str:
    """$z subdivisions of one field; exactly two z's become 'z2 (z1)' +
    posted-up z1."""
    zs = (
        f"transform(filter({f}.subfields, sf -> sf.code = 'z'), "
        f"sf -> regexp_replace(sf.value, {_GEO_TRAIL_DOT_LIT}, ''))"
    )
    return sql_let(
        zs,
        "zs",
        "CASE WHEN size(zs) = 2 THEN array(concat(zs[1], ' (', zs[0], "
        "')'), zs[0]) ELSE zs END",
    )


def _geo_sql(src: str, a_specs, z_specs, probe_sql: Optional[str]) -> str:
    """The geo facet's parts over the record struct ``src``, concatenated
    (the caller wraps acc + distinct):

    - part1 (only with ``probe_sql``, a TranslationMap.sql_probe over
      ``v``): 043a codes, trailing hyphens stripped, map probe, misses
      dropped;
    - part2: ``a_specs`` values with the FIRST '. ' occurrence removed
      (the reference's un-anchored sub);
    - part3: $z subdivisions of ``z_specs`` fields (_geo_z_per_field).
    """
    a_vals = extract_sql(src, a_specs, None)
    parts = [
        f"transform({a_vals}, s -> regexp_replace(s, "
        f"{_GEO_DOT_SPLIT_LIT}, '$1$2'))",
        collect_matching_lines(src, z_specs, _geo_z_per_field),
    ]
    if probe_sql is not None:
        codes = extract_sql(src, _GEO_CODES, None)
        # the probe references its value twice, so bind the stripped code
        stripped = sql_let(
            f"regexp_replace(c, {_GEO_HYPHEN_LIT}, '')", "v", probe_sql
        )
        parts.insert(
            0,
            f"filter(transform({codes}, c -> {stripped}), x -> x IS NOT NULL)",
        )
    return "concat(" + ", ".join(parts) + ")"


def marc_geo_facet(
    geo_a_fields: str = "651a:691a",
    geo_z_fields: str = "600:610:611:630:648:650:654:655:656:690:651:691",
    translation_map=None,
):
    """043a codes (trailing hyphens stripped) through the geographic map;
    651a/691a with FIRST '. ' occurrence removed (reference uses
    un-anchored sub, marc21_semantics.rb:467); $z subdivisions of subject
    fields — exactly two z's become 'z2 (z1)' plus posted-up 'z1'; whole
    accumulator de-duplicated (marc21_semantics.rb:444-491)."""
    a_parsed = parse_marc_spec(geo_a_fields)
    z_parsed = parse_marc_spec(geo_z_fields)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "marc_geographic")
    )
    probe_sql = tmap.sql_probe("v")

    def macro(acc: Column, ctx=None) -> Column:
        src = source_sql(ctx)
        parts = F.expr(_geo_sql(src, a_parsed, z_parsed, probe_sql))
        if probe_sql is None:
            codes = F.expr(extract_sql(src, _GEO_CODES, None))
            part1 = F.flatten(
                F.filter(
                    F.transform(
                        codes,
                        lambda c: tmap.lookup_expr(
                            F.regexp_replace(c, _GEO_HYPHEN_RX, "")
                        ),
                    ),
                    lambda x: x.isNotNull(),
                )
            )
            parts = F.concat(part1, parts)
        return F.array_distinct(F.concat(acc, parts))

    return macro


# ---------------------------------------------------------------------------
# era facet (marc21_semantics.rb:499-531)
# ---------------------------------------------------------------------------

#: marc21_semantics.rb:517 — 'ca.' dot left unescaped as in the reference
ERA_RANGE_REGEX = r"\A\s*.+,\s+(ca.\s+)?\d\d\d\d?(-\d\d\d\d?)?( B\.C\.)?[.,; ]*\Z"

_TRAILING_DOT_LIT = _rx_lit(r"\. *\Z")


def marc_era_facet(
    ordinary_fields: str = "600y:610y:611y:630y:648ay:650y:654y:656y:690y",
    special_fields: str = "651:691",
    separator: str = ": ",
):
    """$y chron subdivisions (trailing period stripped); for 651/691 $y
    matching a date-range shape, prefix the field's $a
    (marc21_semantics.rb:499-531); whole accumulator de-duplicated."""
    ord_parsed = parse_marc_spec(ordinary_fields)
    spec_parsed = parse_marc_spec(special_fields)

    def special_per_field(f: str, s) -> str:
        a = (
            f"coalesce(get(filter({f}.subfields, sf -> sf.code = 'a'), 0)"
            ".value, '')"
        )
        clean = f"regexp_replace(sf.value, {_TRAILING_DOT_LIT}, '')"
        return (
            f"transform(filter({f}.subfields, sf -> sf.code = 'y'), sf -> "
            f"CASE WHEN rlike(sf.value, {_rx_lit(ERA_RANGE_REGEX)}) "
            f"THEN concat({a}, {_rx_lit(separator)}, {clean}) "
            f"ELSE {clean} END)"
        )

    def macro(acc: Column, ctx=None) -> Column:
        src = source_sql(ctx)
        ordinary = (
            f"transform({extract_sql(src, ord_parsed, ' ')}, "
            f"v -> regexp_replace(v, {_TRAILING_DOT_LIT}, ''))"
        )
        special = collect_matching_lines(src, spec_parsed, special_per_field)
        return F.array_distinct(
            F.concat(acc, F.expr(f"concat({ordinary}, {special})"))
        )

    return macro


# ---------------------------------------------------------------------------
# pre-coordinated LCSH (marc21_semantics.rb:540-596)
# ---------------------------------------------------------------------------

_LCSH_CODE_PAT = _rx_lit(r"\A[a-z]\Z")
_TRAILING_PERIOD_PAT = _rx_lit(r"\.\Z")


def marc_lcsh_formatted(
    spec: str = "600:610:611:630:648:650:651:654:662",
    subdivision_separator: str = " — ",
    other_separator: str = " ",
):
    """Assemble each subject field into one pre-coordinated string:
    alphabetic subfields joined; $v/$x/$y/$z prefixed by the subdivision
    separator, others by ' ' except the record's FIRST subfield (index 0 —
    the original index, so a leading control subfield shifts it, matching
    assemble_lcsh's each_with_index); trailing period stripped; empty ->
    nil (marc21_semantics.rb:572-596)."""
    parsed = parse_marc_spec(spec)
    prefix = (
        "CASE WHEN sfi.code IN ('v', 'x', 'y', 'z') THEN "
        f"{_rx_lit(subdivision_separator)} "
        f"WHEN sfi.i = 0 THEN '' ELSE {_rx_lit(other_separator)} END"
    )
    # value IS NOT NULL: a NULL subfield VALUE (schema-legal for user
    # parquet; impossible in ruby-marc) must skip only that subfield —
    # concat's null propagation would otherwise null the whole heading
    step = (
        f"CASE WHEN rlike(sfi.code, {_LCSH_CODE_PAT}) "
        "AND (sfi.value IS NOT NULL) "
        f"THEN concat(acc_s, {prefix}, sfi.value) ELSE acc_s END"
    )

    def per_field(f: str, s) -> str:
        indexed = (
            f"transform({f}.subfields, (sf, i) -> "
            "named_struct('code', sf.code, 'value', sf.value, 'i', i))"
        )
        assembled = (
            f"regexp_replace(aggregate({indexed}, '', "
            f"(acc_s, sfi) -> {step}), {_TRAILING_PERIOD_PAT}, '')"
        )
        return sql_let(
            assembled, "asb", "array(CASE WHEN asb != '' THEN asb END)"
        )

    def macro(acc: Column, ctx=None) -> Column:
        return F.concat(
            acc,
            F.expr(collect_matching_lines(source_sql(ctx), parsed, per_field)),
        )

    return macro
