"""Canonical flat JSON doc assembly.

Reference semantics: ``json.dumps(doc, sort_keys=True)`` over a flat
dict with *dynamic* field names — typed suffixes, language-suffixed
text fields, ``__dps_txt`` switching (web.py:405; suffix system
content_model.py:59-111).

Spark re-expression: the static-name fields (known at plan time,
including any registered ``{name}__facet`` columns) are sorted at
PLAN time and batched into ``to_json(struct(...))`` fragments (null
fields omitted by the default JSON-generator setting — ~10× cheaper
than per-field ``to_json(map(...))`` calls). The two runtime-dynamic
field names (``extracted_text__txt`` vs ``__dps_txt``;
``title__txt{lang_suffix}``) each occupy a bounded lexicographic gap,
so the sorted static keys split around them and the pieces
concatenate in globally sorted key order with no per-row sort. 100%
codegen'd Catalyst expressions — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: lexicographic gaps owned by the runtime-dynamic field names; a
#: static field whose name falls inside an open gap would break the
#: sorted-key guarantee → rejected at plan time.
_DYNAMIC_GAPS = {
    "extracted_text": ("extracted_text__", "extracted_text__tzzz"),
    "title_txt": ("title__txt", "title__tzzz"),
}


def json_entry(key: Column | str, value: Column) -> Column:
    """Render one ``"key":value`` JSON fragment, or null to omit.

    ``key`` may be a literal name or a runtime Column (dynamic field
    names). Null values are omitted.
    """
    key_col = F.lit(key) if isinstance(key, str) else key
    j = F.to_json(F.create_map(key_col, value))
    fragment = j.substr(F.lit(2), F.length(j) - F.lit(2))
    return F.when(value.isNotNull(), fragment)


def _fragment(fields: list[tuple[str, Column]]) -> Column:
    """Render several static-name fields as one JSON fragment via a
    single ``to_json(struct(...))``; null when every field was null."""
    j = F.to_json(F.struct(*[c.alias(name) for name, c in fields]))
    body = j.substr(F.lit(2), F.length(j) - F.lit(2))
    return F.nullif(body, F.lit(""))


def wrap_command(doc: Column | str, command: str = "add") -> Column:
    """Solr command wrapping (web.py:390-403): ``add`` → the doc
    nested under ``{"add":{"doc":…}}``; ``none`` → the bare doc. The
    ``update`` (atomic diff) form is produced by
    ``operators.atomic.atomic_diff`` instead."""
    col = F.col(doc) if isinstance(doc, str) else doc
    if command == "add":
        return F.concat(F.lit('{"add":{"doc":'), col, F.lit("}}"))
    if command == "none":
        return col
    raise ValueError(f"unknown command {command!r}; expected 'add' or 'none'")


def doc_json_stage(df: DataFrame, conf: dict | None = None) -> DataFrame:
    """Assemble ``doc`` from the field columns produced by the chain
    stages (plans/pipeline.py). Field inventory mirrors FIXTURES.md §2.

    Only fields whose producing stage actually ran (column present)
    are emitted — the reference's doc likewise contains exactly what
    the configured indexers for that model produced
    (indexers/__init__.py:82-101 fold + per-model lists). Registered
    faceter columns (``{name}__facet``) are included automatically.
    """
    cols = set(df.columns)
    lang_sfx = F.col("lang_suffix")

    def nonempty(arr: Column) -> Column:
        # empty multivalued fields are omitted (content_model.py:166-169)
        return F.when(F.size(arr) > 0, arr)

    # --- static-name fields, assembled at plan time ---------------------
    static: list[tuple[str, Column]] = []
    if "id" in cols:
        static.append(("id", F.col("id")))
        static.append(("_root_", F.col("id")))  # root.py:45-55 analog
    if "content_model_name__str" in cols:
        static.append(("content_model_name__str", F.col("content_model_name__str")))
    if "described_by__uri" in cols:
        static.append(("described_by__uri", F.col("described_by__uri")))
    if "agg_identifier" in cols:
        static.append(("identifier", nonempty(F.col("agg_identifier"))))
    # IIIF link fields (iiif_links.py:63-68 output inventory)
    for iiif_scalar in ("iiif_manifest__id", "iiif_manifest__uri"):
        if iiif_scalar in cols:
            static.append((iiif_scalar, F.col(iiif_scalar)))
    for iiif_seq in ("iiif_thumbnail_sequence__ids", "iiif_thumbnail_sequence__uris"):
        if iiif_seq in cols:
            static.append((iiif_seq, nonempty(F.col(iiif_seq))))
    for flag in ("is_discoverable", "is_hidden", "is_published", "is_top_level"):
        if flag in cols:
            static.append((flag, F.col(flag)))
    if "agg_text" in cols:
        static.append(("text", nonempty(F.col("agg_text"))))
    if {"title", "lang_suffix"} <= cols:
        # title with embedded language tag (content_model.py:278-293)
        static.append(
            (
                "title__display",
                F.when(
                    F.col("title").isNotNull() & (lang_sfx != ""),
                    F.concat(
                        F.lit("[@"),
                        F.regexp_replace(lang_sfx.substr(F.lit(2), F.lit(100)), "_", "-"),
                        F.lit("]"),
                        F.col("title"),
                    ),
                ).otherwise(F.col("title")),
            )
        )
    if "warc_ts__time" in cols:
        static.append(("warc_ts__time", F.col("warc_ts__time")))
    # every registered faceter column (facets.py:38-49 analog)
    for c in sorted(cols):
        if c.endswith("__facet"):
            static.append((c, F.col(c)))

    static.sort(key=lambda kv: kv[0])

    # --- dynamic-name fields and their sorted gaps -----------------------
    dynamics: list[tuple[str, Column]] = []  # (gap lower bound, piece)
    if {"is_tagged", "extracted_text"} <= cols:
        # delimited payloads flip the field name (extracted_text.py:51-56)
        dynamics.append(
            (
                _DYNAMIC_GAPS["extracted_text"][0],
                json_entry(
                    F.when(F.col("is_tagged"), F.lit("extracted_text__dps_txt")).otherwise(
                        F.lit("extracted_text__txt")
                    ),
                    F.col("extracted_text"),
                ),
            )
        )
    if {"title", "lang_suffix"} <= cols:
        # per-language title text field (content_model.py:263-275)
        dynamics.append(
            (
                _DYNAMIC_GAPS["title_txt"][0],
                json_entry(F.concat(F.lit("title__txt"), lang_sfx), F.col("title")),
            )
        )

    for lo, hi in _DYNAMIC_GAPS.values():
        clash = [k for k, _ in static if lo < k < hi]
        if clash:
            raise ValueError(
                f"static doc field(s) {clash} fall inside the dynamic name "
                f"gap ({lo!r}, {hi!r}) and would break sorted key order"
            )

    # --- merge: fragments of contiguous static runs + dynamics ----------
    pieces: list[Column] = []
    run: list[tuple[str, Column]] = []
    di = 0
    for key, col in static:
        while di < len(dynamics) and dynamics[di][0] < key:
            if run:
                pieces.append(_fragment(run))
                run = []
            pieces.append(dynamics[di][1])
            di += 1
        run.append((key, col))
    if run:
        pieces.append(_fragment(run))
    for _, piece in dynamics[di:]:
        pieces.append(piece)

    return df.withColumn(
        "doc", F.concat(F.lit("{"), F.concat_ws(",", *pieces), F.lit("}"))
    )
