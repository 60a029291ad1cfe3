"""Source-format round-trips — SURVEY.md §2.1 extension surface.

The engine's canonical storage is Parquet, but a 100 TB ingest estate
also lands JSONL and CSV (crawl dumps, export feeds). These queries
prove the OTHER text formats round-trip losslessly through Spark's
readers: the documents table is written in the target format to a
scratch dir (removed at interpreter exit), read back with an EXPLICIT schema (inference is a full extra
pass over 100 TB — never on by design), and every row is
value-verified against the original parquet via the DuckDB oracle,
including an md5 over the free-text column so escaping/quoting bugs
cannot hide.

Scale notes: the writers here are the same distributed writers a real
export uses (one file per partition); the readers split by newline, so
`multiLine` stays false (a multiline JSON/CSV file is one task — the
single worst scalability trap of these formats). JSON escapes embedded
newlines as \\n, so free text with newlines round-trips splittably;
CSV cannot (a quoted newline forces multiLine=true and kills
splitting), so a CSV estate must escape newlines upstream — since r14
that posture is IMPLEMENTED, not just asserted: the reversible
percent-based estate encoding below is applied by the CSV and XML
writers and inverted by their readers, and the md5 oracle verifies
the inversion on the unicode-hostility corpus (embedded NUL, C0/C1
controls, \\r\\n) as well as the committed ones. The adversarial
fixture test covers commas/quotes/unicode for CSV and additionally
raw newlines for JSONL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table
from ..registry import query
from ..session import scratch_dir

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_ROUNDTRIP_ORACLE = """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
"""

# Reversible "estate encoding" for the line/element-framed text
# formats — the upstream escaping this module's docstring prescribes,
# implemented and md5-verified instead of merely asserted (r14
# unicode-hostility full-oracle sweep): CSV record framing cannot
# carry raw \r or \n inside a splittable file (a quoted newline forces
# multiLine=true, which serializes a whole file into one task — the
# reader was splitting hostile docs into extra records), and XML 1.0
# cannot represent C0 controls (except \t\n\r) or U+FFFE/U+FFFF AT
# ALL, even as character references — the Spark XML writer
# TASK_WRITE_FAILs on them. XML additionally line-end-normalizes raw
# \r to \n on parse, so \r must not reach the XML body either.
# Percent-encode exactly those characters plus '%' itself at write and
# invert at read. Bijectivity: in encoded text every '%' starts a
# code, codes are fixed literal strings ('%25', '%XX', '%uFFFX'), so
# decoding the specific codes first and '%25' last can never hit a
# spurious match. Chained JVM-side literal replaces — no regex, no
# UDF, whole-stage-codegen friendly at 100 TB. Only the free-text
# column is encoded; the dim-like columns (lang/source) are clean by
# schema contract, and the gate crashes loudly if that ever changes.
_ESTATE_CHARS = (
    ["\r", "\n"]
    + [chr(c) for c in range(0x00, 0x09)]  # C0 below \t (\t is legal)
    + ["\x0b", "\x0c"]  # VT, FF
    + [chr(c) for c in range(0x0E, 0x20)]  # C0 above \r
    + [chr(0xFFFE), chr(0xFFFF)]  # XML non-characters
)


def _estate_code(ch: str) -> str:
    cp = ord(ch)
    return f"%u{cp:04X}" if cp > 0xFF else f"%{cp:02X}"


def _estate_encode(col):
    out = F.replace(col, F.lit("%"), F.lit("%25"))
    for ch in _ESTATE_CHARS:
        out = F.replace(out, F.lit(ch), F.lit(_estate_code(ch)))
    return out


def _estate_decode(col):
    out = col
    for ch in _ESTATE_CHARS:
        out = F.replace(out, F.lit(_estate_code(ch)), F.lit(ch))
    return F.replace(out, F.lit("%25"), F.lit("%"))


def _written_copy(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """A fresh ``fmt`` copy of documents in a scratch dir; each query
    call writes its own."""
    path = scratch_dir(f"fmt-{fmt}")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    if fmt in ("csv", "xml"):
        # the estate encoding above: framing-hostile bytes leave
        # the free-text payload before the framed writer sees them
        docs = docs.withColumn("text", _estate_encode(F.col("text")))
    writer = docs.repartition(4).write.mode("overwrite")
    if fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "csv":
        # header off (schema is explicit); full quoting with "" as
        # the in-field quote escape; whitespace trimming OFF (the
        # writer default silently trims padded fields); null
        # sentinel \N so quoted-empty "" stays an empty STRING and
        # only the sentinel reads back as NULL — the reader mirrors
        # every one of these (see source_csv_roundtrip)
        writer.options(
            header=False,
            quoteAll=True,
            escape='"',
            ignoreLeadingWhiteSpace=False,
            ignoreTrailingWhiteSpace=False,
            nullValue="\\N",
        ).csv(path)
    elif fmt == "xml":
        # built-in XML source (merged into Spark 4): one <doc>
        # element per row; values land in child elements, where
        # whitespace-significant free text survives verbatim
        # (attributes would XML-collapse it)
        writer.format("xml").options(
            rootTag="docs", rowTag="doc", declaration=""
        ).save(path)
    else:  # pragma: no cover - guarded by callers
        raise ValueError(fmt)
    return path


def _roundtrip_projection(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


@query("source_jsonl_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → distributed JSONL write → ``spark.read.schema(...)
    .json`` → md5-verified equality with the parquet original. Explicit
    schema (no inference pass); line-delimited (splittable)."""
    path = _written_copy(spark, sf_dir, "json")
    back = spark.read.schema(_DOC_SCHEMA).json(path)
    return _roundtrip_projection(back)


@query(
    "source_partitioned_pruned_read",
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents WHERE lang IN ('en', 'zh')
    """,
)
def source_partitioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB layout story as a verified query: documents written
    as a lang-partitioned parquet estate
    (``partitionBy`` → one directory per lang), then read back with a
    partition filter. Catalyst prunes to the matching directories —
    the scan never opens the other partitions' files (asserted in
    tests/test_plans.py) — and the oracle value-verifies the surviving
    rows including text md5. The partition column round-trips through
    directory names, which is exactly what makes low-cardinality
    columns (lang, date, source) the right partition keys and
    high-cardinality ones a small-files disaster."""
    path = scratch_dir("fmt-part")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").partitionBy("lang").parquet(path)
    # explicit schema: an EMPTY estate (zero partition directories —
    # e.g. a fresh date slice) has nothing to infer from and
    # inference-based reads die with UNABLE_TO_INFER_SCHEMA; a
    # production reader of a partitioned estate always knows its
    # schema. Spark resolves `lang` as the partition column.
    back = (
        spark.read.schema(_DOC_SCHEMA)
        .parquet(path)
        .filter(F.col("lang").isin("en", "zh"))
    )
    return _roundtrip_projection(back)


@query("source_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC write → native vectorized ORC read →
    md5-verified equality: the second columnar estate format (typed,
    lossless, predicate-pushdown-capable like parquet — the format
    choice is an interop question, not a semantics one, and this query
    proves it)."""
    path = _written_copy(spark, sf_dir, "orc")
    return _roundtrip_projection(spark.read.orc(path))


@query("source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → distributed quoted-CSV write → ``spark.read
    .schema(...).csv`` with matching quote/escape options →
    md5-verified equality. The text column is the adversarial payload:
    any quoting/escaping asymmetry between writer and reader shows up
    as a hash mismatch on text_md5.

    The write applies the module's estate encoding and the read
    inverts it (r14 unicode-hostility sweep: raw \\r/\\n inside quoted
    fields split one document into multiple records under the
    splittable reader — spark read back 1526 rows of a 1500-row
    corpus). The estate stays newline-splittable with ``multiLine``
    OFF, which is the whole point of the posture."""
    path = _written_copy(spark, sf_dir, "csv")
    back = spark.read.schema(_DOC_SCHEMA).options(
        header=False, quote='"', escape='"', nullValue="\\N"
    ).csv(path)
    back = back.withColumn("text", _estate_decode(F.col("text")))
    return _roundtrip_projection(back)


@query("source_xml_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → distributed XML write (Spark 4 built-in source,
    one <doc> element per row) → ``spark.read.format("xml")`` with the
    explicit schema → md5-verified equality with the parquet original.
    The free-text column is the adversarial payload: XML entity
    escaping (&, <, >) must invert exactly or text_md5 mismatches.
    XML joins the format family (parquet/ORC/JSONL/CSV) under the
    identical oracle; rowTag framing keeps files element-splittable
    the way JSONL is line-splittable.

    ``ignoreSurroundingSpaces=false`` is load-bearing: the reader's
    default TRIMS leading/trailing whitespace inside element text, so
    a document whose text ends in a space (the r14 skew-corpus
    full-oracle sweep's exact-dup class, "…lazy dog ") silently
    roundtrips to a different string and the md5 check catches it.
    Real corpora end runs with whitespace all the time — a format
    roundtrip has no business normalizing payload bytes.

    The write applies the module's estate encoding and the read
    inverts it (r14 unicode-hostility sweep: XML 1.0 cannot represent
    C0 control characters at all — the writer TASK_WRITE_FAILed on a
    corpus carrying \\x01 — and an XML parser line-end-normalizes raw
    \\r to \\n, which would silently change payload bytes)."""
    path = _written_copy(spark, sf_dir, "xml")
    back = (
        spark.read.format("xml")
        .options(rowTag="doc", ignoreSurroundingSpaces="false")
        .schema(_DOC_SCHEMA)
        .load(path)
    )
    back = back.withColumn("text", _estate_decode(F.col("text")))
    return _roundtrip_projection(back)


CORRUPT_MOD = 17  # every doc_id % 17 == 0 line is deterministically broken


@query(
    "source_jsonl_malformed_quarantine",
    oracle=f"""
    SELECT lang,
           CAST(SUM(CASE WHEN doc_id % {CORRUPT_MOD} <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parsed,
           CAST(SUM(CASE WHEN doc_id % {CORRUPT_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt
    FROM documents
    GROUP BY lang
    """,
)
def source_jsonl_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine at the SOURCE level (the reference's
    F1 malformed-line filters lifted to parse failures): a JSONL copy
    of documents is written with every {M}-th line deterministically
    truncated mid-record, then read back in PERMISSIVE mode with a
    ``_corrupt_record`` column — Spark parses what it can and lands
    the broken raw lines in the quarantine column instead of failing
    the job (the production posture for crawl/vendor feeds; FAILFAST
    is for curated inputs, DROPMALFORMED silently loses evidence).
    Corrupt lines carry their raw text, so the audit recovers each
    broken record's lang by regex from the wreckage and reports, per
    lang, parsed vs quarantined counts — which the oracle reproduces
    from the corruption rule alone.

    Scale: one line-delimited (splittable) scan; quarantine is a
    per-row projection, no extra pass."""
    path = scratch_dir("fmt-corrupt")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # lang serializes FIRST: the audit regex recovers each broken
    # record's lang from the wreckage, so the lang field must
    # always survive the truncation. With doc_id first, a 19+
    # digit doc_id pushed lang's closing quote past the 40-char
    # cut and the corrupt row silently fell into the NULL-lang
    # group while the oracle counted its true lang (r14 ADVICE).
    line = F.to_json(F.struct("lang", "doc_id", "source", "n_chars", "text"))
    # cut point: ≥40 chars, but never before lang's closing quote
    # ({"lang":" is 9 bytes, value, quote at len(lang)+10 — the
    # greatest() guard makes the rule total for ANY lang length;
    # greatest skips the NULL arm when lang is NULL, where to_json
    # omits the field and regex no-match → NULL group is correct),
    # and always ≤ length-1 so the closing brace is severed and
    # the line is undeniably invalid JSON. A NULL-text row
    # serializes to ~26 chars (to_json omits null fields), where a
    # flat 40-char cap was a NO-OP and the "corrupt" line stayed
    # valid — the r14 null-heavy full-oracle sweep caught the rule
    # silently not firing; length-1 keeps it total.
    cut = F.least(
        F.greatest(F.lit(40), F.length(F.col("lang")) + F.lit(10)),
        F.length(line) - F.lit(1),
    )
    broken = F.when(
        F.col("doc_id") % CORRUPT_MOD == 0,
        line.substr(F.lit(1), cut),
    ).otherwise(line)
    docs.select(broken.alias("value")).write.mode("overwrite").text(path)
    schema = (
        "doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING,"
        " _corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # nullif: regexp_extract returns '' (not NULL) when the wreckage
    # carries no lang (a NULL-lang row was truncated) — grouping those
    # under lang='' would diverge from the oracle's NULL group (r14
    # null-heavy sweep)
    lang_of = F.coalesce(
        F.col("lang"),
        F.nullif(
            F.regexp_extract(F.col("_corrupt_record"), '"lang":"([a-z]+)"', 1),
            F.lit(""),
        ),
    )
    return back.groupBy(lang_of.alias("lang")).agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_parsed"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
    )
