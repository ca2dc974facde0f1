"""The extraction stage — the engine's single Python hot path.

One Arrow-vectorized pandas UDF maps ``(html binary, text string)`` →
a typed extraction struct whose ``extracted_text`` is already resolved
in the kernel. Everything downstream (routing flags, metrics, field
naming) is native Spark SQL over the struct, keeping the Python
surface minimal and the rest of the plan inside WholeStageCodegen.

Reference semantics re-expressed (src/solrizer/indexers/extracted_text.py):

* content routing OCR → PDF → HTML → plain text (get_text_page,
  extracted_text.py:76-111) becomes payload sniffing inside the UDF
  (``route`` field);
* HTML route: get_text-equivalent ``raw_text`` plus scored DOM blocks
  (the new-engine boilerplate classifier, SURVEY.md §2.12);
* OCR route: ``word|n={page}&xywh={x,y,w,h}`` tokens
  (extracted_text.py:114-119), detected for ALTO / hOCR / OCR1;
* plain route: ``text`` passthrough unaltered (extracted_text.py:109-111);
* failures never raise — they land in ``parse_failed``/``error`` and
  the metrics table (IndexerError analog, extracted_text.py:100-103).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from solrizer_spark.extraction.html_text import extract_html
from solrizer_spark.extraction.pdf_text import extract_pdf_text, pdf_title
from solrizer_spark.extraction.tagged import (
    OCR1_MAGIC,
    UnrecognizedOCRFormatError,
    extract_tagged_words,
    tagged_text,
)

BLOCK_TYPE = T.StructType(
    [
        T.StructField("block_index", T.IntegerType()),
        T.StructField("tag_path", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("link_chars", T.IntegerType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("text_density", T.DoubleType()),
        T.StructField("kept", T.BooleanType()),
    ]
)

#: UDF output schema: scalars only. Shipping the nested block array
#: through Arrow costs ~9× the extraction kernel itself (measured:
#: list-of-struct conversion dominates the batch), so the kernel
#: resolves main-vs-raw text itself and sends back flat columns; the
#: block array is appended only in detail mode (``include_blocks``),
#: for debugging and classifier development.
EXTRACT_FAST_TYPE = T.StructType(
    [
        T.StructField("route", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("parse_failed", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("bytes_in", T.IntegerType()),
        T.StructField("blocks_kept", T.IntegerType()),
        T.StructField("blocks_dropped", T.IntegerType()),
        #: how the html payload's bytes were decoded ("strict" | "bom"
        #: | "xml_decl" | "meta" | "fallback"); NULL for routes that
        #: never decode via the charset ladder (plain/tagged/pdf/failed)
        T.StructField("charset_source", T.StringType()),
        #: declared <link rel=canonical> target (html route only) —
        #: the key canonical_url_dedup groups on
        T.StructField("canonical_url", T.StringType()),
        #: robots-meta noindex/none declared (html route; False elsewhere)
        T.StructField("is_noindex", T.BooleanType()),
    ]
)

_FAILED = {
    "route": "failed",
    "raw_text": None,
    "title": None,
    "tagged_text": None,
    "blocks": None,
    "parse_failed": True,
    "error": None,
    "bytes_in": 0,
    "charset_source": None,
    "canonical_url": None,
    "is_noindex": False,
}

#: payload sniff window (bytes) for OCR-format markers
_SNIFF = 4096
_OCR_MARKERS = (b"<alto", b"ocrx_word", b"ocr_page")

#: rel=canonical target, scanned on the RAW bytes head (hrefs are
#: ASCII on the real web; byte-level keeps it charset-independent and
#: zero-cost beyond one bounded regex) — feeds canonical_url_dedup
_CANONICAL_WINDOW = 8192
_PY_CANONICAL = re.compile(
    rb"""<link[^>]*?rel\s*=\s*["']canonical["'][^>]*?href\s*=\s*["']([^"']+)["']""",
    re.IGNORECASE,
)


def _canonical_from_head(html: bytes) -> str | None:
    m = _PY_CANONICAL.search(html[:_CANONICAL_WINDOW])
    if m is None:
        return None
    return m.group(1).decode("latin-1")


#: robots-meta noindex/none declaration, same bounded byte-level scan
#: (functions/html_meta.is_noindex is the Column form for decoded text)
_PY_ROBOTS = re.compile(
    rb"""<meta[^>]*?name\s*=\s*["']robots["'][^>]*?content\s*=\s*["']([^"']*)["']""",
    re.IGNORECASE,
)
_NOINDEX_TOKEN = re.compile(rb"(^|[,\s])(noindex|none)([,\s]|$)", re.IGNORECASE)


def _noindex_from_head(html: bytes) -> bool:
    m = _PY_ROBOTS.search(html[:_CANONICAL_WINDOW])
    return bool(m and _NOINDEX_TOKEN.search(m.group(1)))


def _extract_one(
    html: bytes | None,
    text: str | None,
    dpi: tuple[int, int],
    http_charset: str | None = None,
) -> dict:
    """Pure per-record kernel; the UDF maps this over Arrow batches."""
    if html is not None and len(html) > 0:
        head = html[:_SNIFF]
        is_tagged = head.lstrip()[:4] == OCR1_MAGIC.encode() or any(
            m in head for m in _OCR_MARKERS
        )
        if is_tagged:
            # broad except: a malformed ALTO/hOCR payload (truncated
            # XML → ParseError, missing attrs → KeyError) must never
            # escape the UDF and fail the job; a sniff false-positive
            # (an ordinary page that merely mentions 'ocr_page') falls
            # back to the HTML route below instead of being dropped
            try:
                words = extract_tagged_words(html, dpi=dpi)
                return {
                    "route": "tagged",
                    "raw_text": None,
                    "title": None,
                    "tagged_text": tagged_text(words, page_index=0),
                    "blocks": None,
                    "parse_failed": False,
                    "error": None,
                    "bytes_in": len(html),
                    "charset_source": None,
                    "canonical_url": None,
                    "is_noindex": False,
                }
            except UnrecognizedOCRFormatError:
                pass  # not OCR after all → HTML route
            except Exception as e:
                return {**_FAILED, "error": f"ocr_error:{type(e).__name__}", "bytes_in": len(html)}
        if head.lstrip()[:5] == b"%PDF-":
            # binary-PDF route (north rule "PDF/layout parse" — the
            # layout half is the tagged route above): stdlib kernel,
            # never raises; unrecoverable text → parse_failed metrics
            pdf_text = extract_pdf_text(html)
            if not pdf_text:
                return {**_FAILED, "error": "pdf_no_text", "bytes_in": len(html)}
            return {
                "route": "pdf",
                "raw_text": pdf_text,
                "title": pdf_title(html),
                "tagged_text": None,
                "blocks": None,
                "parse_failed": False,
                "error": None,
                "bytes_in": len(html),
                "charset_source": None,
                "canonical_url": None,
                "is_noindex": False,
            }
        result = extract_html(html, http_charset=http_charset)
        if result.parse_failed:
            return {**_FAILED, "error": result.error, "bytes_in": len(html)}
        return {
            "route": "html",
            "raw_text": result.raw_text,
            "title": result.title,
            "tagged_text": None,
            # Block objects, not dicts: the scalar-only schema only
            # counts kept/dropped and joins text, so the per-block
            # as_dict() conversion runs only in detail mode, which
            # serializes the block array
            "blocks": result.blocks,
            "parse_failed": False,
            "error": None,
            "bytes_in": len(html),
            "charset_source": result.charset_source,
            "canonical_url": _canonical_from_head(html),
            "is_noindex": _noindex_from_head(html),
        }
    if text is not None:
        # plain-text passthrough, unaltered (extracted_text.py:109-111)
        return {
            "route": "plain",
            "raw_text": text,
            "title": None,
            "tagged_text": None,
            "blocks": None,
            "parse_failed": False,
            "error": None,
            "bytes_in": len(text.encode("utf-8")),
            "charset_source": None,
            "canonical_url": None,
            "is_noindex": False,
        }
    return {**_FAILED, "error": "empty_html"}


def _resolve_text(rec: dict) -> str | None:
    """Final extracted_text decision, made once per record for both
    extraction modes: tagged → OCR tokens, plain → passthrough, html
    with boilerplate detected → kept-block main text, clean html →
    raw markup-strip bytes (get_text parity)."""
    if rec["parse_failed"]:
        return None
    route = rec["route"]
    if route == "tagged":
        return rec["tagged_text"]
    if route == "plain":
        return rec["raw_text"]
    blocks = rec["blocks"] or []
    dropped = sum(1 for b in blocks if not b.kept)
    if dropped > 0:
        return "\n".join(b.text for b in blocks if b.kept)
    return rec["raw_text"]


def make_extract_fast_udf(
    dpi: tuple[int, int] = (400, 400), include_blocks: bool = False
):
    """The extraction pandas UDF: ``(html, text, http_charset)`` →
    :data:`EXTRACT_FAST_TYPE`, plus the scored ``blocks`` array when
    ``include_blocks``."""
    schema = EXTRACT_FAST_TYPE
    if include_blocks:
        schema = T.StructType(
            schema.fields + [T.StructField("blocks", T.ArrayType(BLOCK_TYPE))]
        )

    @pandas_udf(schema)
    def extract_fast_udf(
        html: pd.Series, text: pd.Series, http_charset: pd.Series
    ) -> pd.DataFrame:
        # columnar accumulation: dict-of-lists beats list-of-dicts for
        # the pandas→Arrow hop
        cols: dict[str, list] = {f.name: [] for f in schema.fields}
        for h, t, c in zip(html, text, http_charset):
            rec = _extract_one(
                h,
                t if isinstance(t, str) else None,
                dpi,
                c if isinstance(c, str) else None,
            )
            blocks = rec["blocks"] or []
            kept = sum(1 for b in blocks if b.kept)
            cols["route"].append(rec["route"])
            cols["extracted_text"].append(_resolve_text(rec))
            cols["title"].append(rec["title"])
            cols["parse_failed"].append(rec["parse_failed"])
            cols["error"].append(rec["error"])
            cols["bytes_in"].append(rec["bytes_in"])
            cols["blocks_kept"].append(kept)
            cols["blocks_dropped"].append(len(blocks) - kept)
            cols["charset_source"].append(rec["charset_source"])
            cols["canonical_url"].append(rec["canonical_url"])
            cols["is_noindex"].append(rec["is_noindex"])
            if include_blocks:
                cols["blocks"].append(
                    None if rec["blocks"] is None else [b.as_dict() for b in blocks]
                )
        return pd.DataFrame(cols)

    return extract_fast_udf


def page_outline(blocks: Column) -> Column:
    """Heading hierarchy from the scored block array:
    ``array<struct<level int, text string>>`` in document order —
    parser-grounded (block ``tag_path``, so headings inside scripts,
    comments, or dropped markup never appear; a raw-HTML regexp
    would), kept/dropped-agnostic (a nav-scored h2 is still part of
    the outline). Pure Column expressions over the detail-mode
    ``blocks`` column; zero Python, zero shuffle."""
    ordered = F.array_sort(
        F.filter(
            blocks,
            lambda b: F.element_at(F.split(b["tag_path"], "/"), -1).rlike(
                "^h[1-6]$"
            ),
        ),
        lambda a, b: F.when(a["block_index"] < b["block_index"], -1)
        .when(a["block_index"] > b["block_index"], 1)
        .otherwise(0),
    )
    return F.transform(
        ordered,
        lambda b: F.struct(
            F.substring(F.element_at(F.split(b["tag_path"], "/"), -1), 2, 1)
            .cast("int")
            .alias("level"),
            b["text"].alias("text"),
        ),
    )


def page_labels(pages: Column, title_field: str = "title") -> Column:
    """Ordered page labels (PageSequence.labels, page_sequence.py:67-71):
    each page's title, or the positional ``[Page N]`` placeholder
    (N 1-based by sequence position) when untitled. ``pages`` must
    already be in sequence order."""
    return F.transform(
        pages,
        lambda p, i: F.coalesce(
            p[title_field],
            F.concat(F.lit("[Page "), (i + 1).cast("string"), F.lit("]")),
        ),
    )


def extract_stage(
    df: DataFrame,
    dpi: tuple[int, int] = (400, 400),
    include_blocks: bool = False,
) -> DataFrame:
    """Add extraction columns to a pages DataFrame.

    Emits:
      - ``extracted_text``  the headline output (byte-identity target)
      - ``is_tagged``       delimited-payload flag → ``__dps_txt`` naming
      - ``title`` ``route`` ``parse_failed`` ``error``
      - ``blocks_kept``/``blocks_dropped``/``bytes_in`` metrics
      - ``blocks``          per-block detail, only when ``include_blocks``

    Both modes run the same UDF, which resolves extracted_text and
    the block counts in the kernel. ``include_blocks=False`` (default)
    is the high-throughput path: only flat scalars cross the Arrow
    boundary. ``include_blocks=True`` also ships the scored block
    array — same bytes (pinned by tests), ~9× slower boundary, for
    debugging/inspection.
    """
    # transport-layer charset label (WARC ingest's http_charset column)
    # feeds the decode ladder between BOM and in-document declarations;
    # corpora without the column pass a typed NULL (zero-cost: the
    # ladder only consults it after strict UTF-8 fails)
    hint = (
        F.col("http_charset")
        if "http_charset" in df.columns
        else F.lit(None).cast("string")
    )
    ext = make_extract_fast_udf(dpi, include_blocks)
    df = df.withColumn("_ext", ext(F.col("html"), F.col("text"), hint))
    e = F.col("_ext")
    fields = [
        "route", "title", "parse_failed", "error", "bytes_in", "is_tagged",
        "blocks_kept", "blocks_dropped", "charset_source", "canonical_url",
        "is_noindex", "extracted_text",
    ] + (["blocks"] if include_blocks else [])
    is_tagged = e["route"] == F.lit("tagged")
    return df.withColumns(
        {f: is_tagged if f == "is_tagged" else e[f] for f in fields}
    ).drop("_ext")
