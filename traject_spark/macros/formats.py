"""MARC format/genre classification (reference:
lib/traject/macros/marc_format_classifier.rb).

The classifier is a stack of boolean predicates over leader bytes, 007
control fields, and a few data fields, assembled into a 1..N-element
format vocabulary. It renders as ONE SQL expression (``F.expr``) —
intra-row, no UDF. let() has a direct SQL form (the aggregate trick with
NAMED lambda variables, so nesting is unambiguous), and the genre maps
are embedded from the TranslationMap load, so a user map shadowing the
builtin flows into the SQL too.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import sql_let
from traject_spark.marc.extractor import source_sql
from traject_spark.sqlutil import EMPTY_SQL, sql_str_lit as _sq
from traject_spark.translation_map import TranslationMap

#: (?m): Ruby's ^/$ are ALWAYS line anchors — a multi-line $v value
#: (producible via JSON ingest) matches on an interior line in the
#: reference, so Java's string-anchor default would silently diverge
_CONGRESS_RE = r"(?m)^\s*(C|c)ongresses\.?\s*$"


def _sql_map_of_arrays(mapping: dict) -> str:
    """map(k, array(v...), ...) literal of a genre map (values flattened
    in, as the reference's [results].flatten does,
    marc_format_classifier.rb:88-92). A literal probe carries ONLY this
    simple shape: no ``__default__`` (a lookup would apply it on every
    miss; a literal key never would) and no nil suppression entries (a
    literal would render the string 'None') — those raise, the same rule
    TranslationMap.sql_probe enforces for the languages/geo maps."""
    parts = []
    for k, v in mapping.items():
        vals = v if isinstance(v, list) else [v]
        if any(x is None for x in vals) or k == "__default__":
            raise ValueError(
                f"map entry {k!r} -> {v!r} is not SQL-probe eligible"
            )
        arr = "array(" + ", ".join(_sq(str(x)) for x in vals) + ")"
        parts.append(f"{_sq(str(k))}, {arr}")
    return "map(" + ", ".join(parts) + ")"


def genre_sql(
    leader: str,
    f007_values: str,
    leader_map: Optional[TranslationMap] = None,
    f007_map: Optional[TranslationMap] = None,
) -> str:
    """Leader bytes 6-7 pair, else leader byte 6, else each 007 byte 0
    through the genre maps — lookup misses on the 007 path stay NULL
    elements, matching the reference's collect-with-nils
    (marc_format_classifier.rb:86-95). ``leader`` and ``f007_values``
    are SQL text: the non-NULL leader and the 007 values."""
    lmap = _sql_map_of_arrays(
        (leader_map or TranslationMap("marc_genre_leader")).as_dict()
    )
    cmap = _sql_map_of_arrays(
        (f007_map or TranslationMap("marc_genre_007")).as_dict()
    )
    # the WHOLE lookup value: map entries may legally be arrays
    two = f"try_element_at({lmap}, substring({leader}, 7, 2))"
    one = f"try_element_at({lmap}, substring({leader}, 7, 1))"
    return (
        f"case when {two} is not null then {two} "
        f"when {one} is not null then {one} "
        f"else flatten(transform({f007_values}, v -> coalesce("
        f"try_element_at({cmap}, substring(v, 1, 1)), "
        f"array(cast(null as string))))) end"
    )


def formats_sql(marc: str, default: str = "Other") -> str:
    """The opinionated grab-bag assembly (marc_format_classifier.rb:44-74)
    as SQL text over the record struct ``marc`` (see
    :func:`~traject_spark.marc.extractor.source_sql`): genre +
    Manuscript/Archive + Microform + Online + Print (unless a recording);
    thesis replaces Book with Dissertation/Thesis; proceeding appends
    Conference; empty -> default."""
    leader = f"coalesce({marc}.leader, '')"
    # normalized GMD: lower-cased first 245$h, else ''
    # (marc_format_classifier.rb:188-193); bound once as g — print,
    # online and microform all read it
    gmd_v = (
        f"coalesce(lower(get(filter(get(filter({marc}.datafields, "
        f"f -> f.tag = '245'), 0).subfields, sf -> sf.code = 'h'), "
        f"0).value), '')"
    )
    # the 007 values, bound once as fv (genre, online, microform).
    # Coalesced: marc.controlfields = NULL is schema-legal in user
    # parquet, and a NULL here would null the whole accumulator instead
    # of yielding the default
    f007_v = (
        f"coalesce(transform(filter({marc}.controlfields, "
        f"f -> f.tag = '007'), f -> f.value), {EMPTY_SQL})"
    )
    genre = genre_sql(leader, "fv")
    # leader byte 6 in t/d/f/b, or byte 8 'a' (marc_format_classifier.rb:175-186)
    manuscript = (
        f"(substring({leader}, 7, 1) in ('t', 'd', 'f', 'b') "
        f"or substring({leader}, 9, 1) = 'a')"
    )
    # GMD '[microform]', leader byte 6 'h' (obsolete), or 007 'h'
    # (marc_format_classifier.rb:168-172)
    microform = (
        f"(startswith(g, '[microform]') or substring({leader}, 7, 1) = 'h' "
        f"or exists(fv, v -> substring(v, 1, 1) = 'h'))"
    )
    # 007 'cr'; else GMD '[electronic resource]' counts only when NO 007
    # starts with 'c' (marc_format_classifier.rb:150-163)
    online = (
        f"(exists(fv, v -> substring(v, 1, 2) = 'cr') or "
        f"(startswith(g, '[electronic resource]') "
        f"and not exists(fv, v -> substring(v, 1, 1) = 'c')))"
    )
    # RDA 338 (with $2=rdacarrier) says volume/sheet/card ($a) or
    # nc/no/nb ($b); with no RDA 338, print iff no GMD
    # (marc_format_classifier.rb:129-146). rda338 is let-bound: the size
    # guard and the hit both read it
    rda338 = (
        f"filter({marc}.datafields, f -> f.tag = '338' and "
        f"coalesce(get(filter(f.subfields, sf -> sf.code = '2'), 0).value, "
        f"'') = 'rdacarrier')"
    )
    rda_hit = (
        "exists(r338, f -> exists(f.subfields, sf -> "
        "(sf.code = 'a' and sf.value in ('volume', 'card', 'sheet')) or "
        "(sf.code = 'b' and sf.value in ('nc', 'no', 'nb'))))"
    )
    print_p = sql_let(
        rda338, "r338",
        f"case when size(r338) > 0 then {rda_hit} else length(g) = 0 end",
    )
    # has a 502 (marc_format_classifier.rb:98-102)
    thesis = f"exists({marc}.datafields, f -> f.tag = '502')"
    # any 6xx with $v ~= 'Congresses' (marc_format_classifier.rb:105-112)
    proceeding = (
        f"exists({marc}.datafields, f -> substring(f.tag, 1, 1) = '6' and "
        f"exists(f.subfields, sf -> sf.code = 'v' and "
        f"sf.value rlike {_sq(_CONGRESS_RE)}))"
    )

    def flag(cond: str, label: str) -> str:
        return f"case when {cond} then array({_sq(label)}) else {EMPTY_SQL} end"

    base0 = (
        f"concat({genre}, {flag(manuscript, 'Manuscript/Archive')}, "
        f"{flag(microform, 'Microform')}, {flag(online, 'Online')})"
    )
    is_recording = (
        "arrays_overlap(filter(b0, x -> x is not null), "
        "array('Non-musical Recording', 'Musical Recording'))"
    )
    # let-bind between stages: each stage reads its input 2-3 times
    stage1 = sql_let(
        base0, "b0",
        f"concat(b0, {flag(f'{print_p} and not {is_recording}', 'Print')})",
    )
    stage2 = sql_let(
        stage1, "b1",
        f"case when {thesis} then concat("
        f"filter(b1, x -> x is null or x != 'Book'), "
        f"array('Dissertation/Thesis')) else b1 end",
    )
    # [nil] from unmapped 007s is non-empty -> default does NOT fire,
    # replicating the reference's nil-in-formats quirk
    stage3 = sql_let(
        f"concat(b2, {flag(proceeding, 'Conference')})", "b3",
        f"case when size(b3) = 0 then array({_sq(default)}) else b3 end",
    )
    assembled = sql_let(stage2, "b2", stage3)
    return sql_let(gmd_v, "g", sql_let(f007_v, "fv", assembled))


def marc_formats(default: str = "Other"):
    """Macro form (marc_format_classifier.rb:17-22): one ``F.expr`` of
    :func:`formats_sql` over the pipeline's source column. A genre map
    shadowing a builtin with a ``__default__`` or nil entries raises
    ``ValueError`` (see :func:`_sql_map_of_arrays`)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.concat(acc, F.expr(formats_sql(source_sql(ctx), default)))

    return macro
