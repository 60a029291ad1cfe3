"""Text-analysis pack — SURVEY.md §2.10 X4 and the training-data
pipeline operators (language-ID heuristic, quality scoring, token
counting, document fingerprinting).

Everything here is built-in array/string functions with SQL lambdas
(``filter``/``transform``/``aggregate``) — JVM-side, codegen-friendly,
no Python in the hot path. The same expressions run unchanged over a
100 TB corpus; the only scale lever is partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query

# tiny English function-word list used by the quality / lang-id heuristics
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def with_tokens(docs: DataFrame) -> DataFrame:
    """documents + a ``toks`` array column (whitespace tokenization —
    the reference corpus is space-joined; a BPE-ish regex tokenizer is
    in ``text_token_bpe_regex``)."""
    return docs.withColumn("toks", F.split(F.col("text"), " "))


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ttr,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + type-token ratio per document. Int/int division
    in double is deterministic across engines (unlike float SUMs)."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    n_tok = F.size("toks")
    n_dis = F.size(F.array_distinct("toks"))
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        n_dis.cast("int").alias("n_distinct"),
        (n_dis.cast("double") / n_tok).alias("ttr"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio,
           list_aggregate(list_transform(string_split(text, ' '),
                                         t -> length(t)), 'sum') * 1.0
               / len(string_split(text, ' ')) AS avg_token_len,
           CASE WHEN len(string_split(text, ' ')) >= 40
                 AND len(list_filter(string_split(text, ' '),
                                     t -> t IN ({_STOP_SQL}))) * 1.0
                     / len(string_split(text, ' ')) >= 0.05
                THEN 'good' ELSE 'low' END AS quality_band
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + mean token length + a banding
    rule — the filter stage of a training-data pipeline. SQL lambdas
    (``filter``/``transform``/``aggregate``) keep it JVM-side."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_tok
    sum_len = F.aggregate(
        "toks", F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        "doc_id",
        stop_ratio.alias("stop_ratio"),
        (sum_len.cast("double") / n_tok).alias("avg_token_len"),
        F.when((n_tok >= 40) & (stop_ratio >= 0.05), "good")
        .otherwise("low")
        .alias("quality_band"),
    )


@query(
    "text_langid_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) * 1.0
               / len(string_split(text, ' ')) AS en_score,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t IN ({_STOP_SQL}))) * 1.0
                     / len(string_split(text, ' ')) >= 0.08
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM documents
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word frequency scoring (the
    n-gram-profile approach reduced to a 1-gram marker list). Output
    keeps the corpus ``lang`` label alongside for accuracy analysis."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    n_tok = F.size("toks")
    en_score = (
        F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS))).cast("double")
        / n_tok
    )
    return docs.select(
        "doc_id",
        "lang",
        en_score.alias("en_score"),
        F.when(en_score >= 0.08, "en").otherwise("other").alias("lang_guess"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                               ' ')) AS fingerprint,
           md5(text) AS exact_hash
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the text (exact-dup key) and of
    the sorted distinct token set (a bag-of-words canonical form robust
    to token order — the cheap fingerprint for X1 exact dedup at scale)."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    # NULL text → NULL fingerprint, matching md5(NULL) and the oracle:
    # concat_ws maps a NULL array to '' and would mint the md5('')
    # fingerprint for absent content (r14 null-heavy sweep) — a
    # tombstone must not share a dedup key with a real empty document.
    canon = F.when(
        F.col("text").isNotNull(),
        F.concat_ws(" ", F.array_sort(F.array_distinct("toks"))),
    )
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.md5("text").alias("exact_hash"),
    )


@query(
    "text_top20_bigrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bigrams AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def text_top20_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 token bigrams: transform to n-grams,
    explode, count. The n-gram construction is an array lambda (no
    shuffle); the single shuffle is the count group-by."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> concat(x, ' ', toks[i + 1]))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_token_bpe_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
)
def text_token_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: regex pre-tokenizer (letter runs /
    digit runs / single punctuation) compared with whitespace counts —
    the cheap token-budget estimator for a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC,
                            tf.term) AS rnk
        FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, score, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style salient terms: top-3 terms per document scored by
    tf · N/df. The inverse document frequency is kept as the raw ratio
    (no logarithm) so the score is a ratio of exact integers — libm's
    ln differs between engines in the last ulp and would break the
    value-hash compare; the *ranking* is identical either way since
    ln is monotonic.

    Plan: one shuffle for tf (doc, term), then df as a COUNT window
    over the term partition of the tf rows themselves — tf holds one
    row per (doc, term), so the per-term row count IS the distinct-doc
    count, with no second corpus scan, no separate df aggregation, and
    no join-back shuffle; broadcast the one-row corpus count, rank per
    doc. At 100 TB the df state is bounded by vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


@query(
    "text_repetition_metrics",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id, len(toks) AS n_toks,
               unnest([toks[i] || ' ' || toks[i + 1]
                       FOR i IN range(1, len(toks))]) AS bg
        FROM t WHERE len(toks) >= 2
    ),
    c AS (SELECT doc_id, n_toks, bg, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
    p AS (
        SELECT doc_id, n_toks, MAX(cnt) AS top_n,
               CAST(SUM(cnt) AS BIGINT) AS n_bg
        FROM c GROUP BY 1, 2
    ),
    d AS (
        SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS nd FROM t
    )
    SELECT p.doc_id,
           CAST(p.n_toks AS BIGINT) AS n_toks,
           CAST(top_n AS DOUBLE) / n_bg AS top_bigram_frac,
           CAST(nt - nd AS DOUBLE) / nt AS dup_token_frac,
           (CAST(top_n AS DOUBLE) / n_bg >= 0.2)
             OR (CAST(nt - nd AS DOUBLE) / nt >= 0.6) AS is_repetitive
    FROM p JOIN d ON p.doc_id = d.doc_id
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of bigram mass held by the single most frequent bigram and
    the duplicate-token fraction (1 − distinct/total), plus the
    combined repetitive-document flag a curation pipeline would filter
    on. One explode + two keyed aggregations — partial aggregation
    (map-side combine) keeps the shuffle ∝ distinct (doc, bigram), and
    nothing is corpus-global, so the plan is embarrassingly scalable.

    The r11 cores screen caught this query dead flat (5.73/5.58 s,
    local[4] -> local[32]) while growing ~5.6x with data: BOTH scan
    branches (the bigram transform+explode and the array_distinct
    token stats) fused their per-doc CPU onto the corpus file's single
    bench-local split. The explicit doc_id repartition below spreads
    both branches off the scan and lets them share one exchange
    subtree — a pure win at every measured point (10x: 5.73 -> 2.04 s
    at 4c, 5.58 -> 1.22 s at 32c; sf0.1: 0.99 -> 0.65 s), unlike the
    same spread at text_rake_keywords, which was measured and
    rejected (numbers at that site).

    Determinism: both fractions are exact-integer ratios divided once
    as doubles, computed identically by the oracle, so the boolean
    thresholds compare identical bit patterns."""
    docs = with_tokens(
        load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
    )
    big = docs.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
            )
        ).alias("bg"),
    )
    counts = big.groupBy("doc_id", "n_toks", "bg").agg(F.count("*").alias("cnt"))
    per_doc = counts.groupBy("doc_id", "n_toks").agg(
        F.max("cnt").alias("top_n"), F.sum("cnt").alias("n_bg")
    )
    tok_stats = docs.select(
        "doc_id",
        F.size("toks").alias("nt"),
        F.size(F.array_distinct("toks")).alias("nd"),
    )
    top_frac = F.col("top_n").cast("double") / F.col("n_bg")
    dup_frac = (F.col("nt") - F.col("nd")).cast("double") / F.col("nt")
    return (
        per_doc.join(tok_stats, "doc_id")
        .select(
            "doc_id",
            "n_toks",
            top_frac.alias("top_bigram_frac"),
            dup_frac.alias("dup_token_frac"),
            ((top_frac >= 0.2) | (dup_frac >= 0.6)).alias("is_repetitive"),
        )
    )


# PII patterns kept to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, no
# backreferences or lookaround.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH pii AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_IPV4_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_IPV4_RE}', '<IP>', 'g')) AS scrubbed_hash
    FROM pii
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over a corpus (emails, IPv4) — the
    counting and scrubbing stage every training-data pipeline runs
    before anything else. The synthetic corpus contains no organic PII,
    so a deterministic email + IP is injected per document *inside the
    query with the same expression the oracle uses* — the redaction is
    then provably exercised on every row (asserted by the hash of the
    scrubbed text, not just the match counts).

    Pure JVM regex (codegen'd, no UDF); patterns are restricted to the
    syntax subset where Java regex and RE2 agree. At 100 TB this is an
    embarrassingly parallel projection."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_IPV4_RE), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


@query(
    "text_window_dup_fraction",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
        SELECT DISTINCT doc_id,
               unnest([md5(array_to_string(toks[i:i + 7], ' '))
                       FOR i IN range(1, len(toks) - 6)]) AS wk
        FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT wk, COUNT(*) AS d FROM w GROUP BY wk),
    p AS (
        SELECT w.doc_id, COUNT(*) AS n_windows,
               SUM(CASE WHEN s.d >= 2 THEN 1 ELSE 0 END) AS shared
        FROM w JOIN s USING (wk) GROUP BY w.doc_id
    )
    SELECT doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(shared AS DOUBLE) / n_windows AS dup_window_frac,
           CAST(shared AS DOUBLE) / n_windows >= 0.5 AS is_contaminated
    FROM p
    """,
)
def text_window_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: the fraction of a document's distinct
    8-token windows that also occur in at least one other document —
    the fixed-window approximation of suffix-array substring
    contamination (CCNet/RefinedWeb-style), used to catch boilerplate
    and cross-document template reuse that document-level dedup misses.

    Plan: one explode to (doc, window-hash), per-doc distinct, then
    the doc-count per window hash as a COUNT window aggregate over the
    wk partition — the rows are already shuffled on wk by the
    distinct, so this costs a sort where the former groupBy +
    join-back re-shuffled the full window set a second time (measured
    2.7 → 1.5 s at sf0.1) — and one per-doc aggregate. The window
    dictionary is the only corpus-wide state and it shrinks with the
    md5 projection; per-wk groups are doc-counts (small), so the
    window buffer is bounded; shuffle volume is ∝ distinct windows,
    not corpus²."""
    # single-file corpus: spread the window-hash CPU across cores
    docs = with_tokens(
        load_table(spark, sf_dir, "documents").repartition(32, "doc_id")
    )
    wins = (
        docs.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 7),"
                    " i -> md5(concat_ws(' ', slice(toks, i, 8))))"
                )
            ).alias("wk"),
        )
        .distinct()
    )
    per_doc = (
        wins.withColumn("d", F.count("*").over(Window.partitionBy("wk")))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)).alias("shared"),
        )
    )
    frac = F.col("shared").cast("double") / F.col("n_windows")
    return per_doc.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        frac.alias("dup_window_frac"),
        (frac >= 0.5).alias("is_contaminated"),
    )


@query(
    "text_dedup_span_removal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
        SELECT doc_id, u.i AS pos,
               md5(array_to_string(toks[u.i:u.i + 7], ' ')) AS wk
        FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
        WHERE len(toks) >= 8
    ),
    ranked AS (
        SELECT doc_id, pos, wk,
               row_number() OVER (PARTITION BY wk ORDER BY doc_id, pos) AS rn
        FROM w
    ),
    covered AS (
        SELECT DISTINCT doc_id, pos + o.o AS cov
        FROM ranked, UNNEST(range(0, 8)) AS o(o)
        WHERE rn >= 2
    ),
    tokens AS (
        SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) AS pos
        FROM t
    ),
    kept AS (
        SELECT tk.doc_id, tk.pos, tk.tok
        FROM tokens tk ANTI JOIN covered c
          ON c.doc_id = tk.doc_id AND c.cov = tk.pos
    ),
    agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg a USING (doc_id)
    """,
)
def text_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication with *rewrite* (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): every
    8-token window that already occurred earlier in the corpus — in
    another document or earlier in the same one — has its token span
    deleted; the first occurrence, in (doc_id, pos) order, is the one
    that survives. Unlike ``text_window_dup_fraction`` (a per-doc
    *metric*), this emits the cleaned corpus itself plus removal
    accounting, including fully-boilerplate documents that collapse to
    empty strings.

    Plan at 100 TB: positional windows are one explode; the keeper
    decision is one shuffle on the window hash (state ∝ distinct
    windows, the same dictionary text_window_dup_fraction builds);
    span-cover expansion is a bounded 8× explode of *duplicated*
    windows only (∝ duplication density, not corpus); the rewrite is a
    per-doc ordered re-assembly — partitioned by doc_id, no global
    sort. No stage is corpus²."""
    # single-file corpus: spread the window-hash CPU across cores
    docs = with_tokens(
        load_table(spark, sf_dir, "documents").repartition(32, "doc_id")
    )
    wins = (
        docs.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(toks) - 7),"
                    " i -> md5(concat_ws(' ', slice(toks, i, 8))))"
                )
            ).alias("p0", "wk"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "wk")
    )
    w_first = Window.partitionBy("wk").orderBy("doc_id", "pos")
    dups = (
        wins.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    # covered positions fold straight to a per-doc sorted SET (state ∝
    # covered positions of that doc ≤ its token count — the same bound
    # as the doc's own text row): one shuffle replaces the r14 chain of
    # covered-DISTINCT shuffle + (doc_id, pos) anti-join of the fully
    # exploded token table + collect_list re-assembly shuffle (guide
    # §2.4; A/B and plan diff in OPTIMIZATION_r15.md). The rewrite
    # itself becomes a per-doc array complement: array_except keeps
    # first-array order, so kept positions stay in document order, and
    # element_at re-reads each kept token from the doc's own toks array
    # — O(len) per doc with hash-set lookups, never len·covered.
    covagg = (
        dups.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias(
                "cov"
            ),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("cov")).alias("cov"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("toks")),
        F.coalesce(F.col("cov"), F.array().cast("array<int>")),
    )
    return docs.join(covagg, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept_pos)).cast("long").alias("n_removed"),
        F.coalesce(
            F.array_join(
                F.transform(kept_pos, lambda p: F.element_at("toks", p)), " "
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


@query(
    "text_inverted_index_top_terms",
    oracle="""
    WITH postings AS (
        SELECT tok, doc_id, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) GROUP BY tok, doc_id
    ),
    stats AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               arg_max(doc_id, tf * 10000000000 - doc_id) AS top_doc
        FROM postings GROUP BY tok
    )
    SELECT tok, df, total_tf, top_doc
    FROM stats
    ORDER BY total_tf DESC, tok ASC
    LIMIT 25
    """,
)
def text_inverted_index_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-engine side of the text pack):
    per-term posting statistics — document frequency, total term
    frequency, and the argmax document (highest tf, lowest doc_id on
    ties — both engines break ties via the same scalar
    tf·10¹⁰ − doc_id order key) — reported for the 25 heaviest terms.

    The posting list build is the canonical two-level aggregation:
    explode to (term, doc), partial-aggregate term frequency within
    (term, doc), then roll up per term. Both levels are map-side
    combinable, so the shuffle carries postings (∝ distinct
    (term, doc) pairs), not raw token instances — the 100 TB index
    build plan, where raw token volume is ~20× the posting volume."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    postings = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = postings.groupBy("tok").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.expr("max_by(doc_id, tf * 10000000000 - doc_id)").alias("top_doc"),
    )
    return (
        stats.orderBy(F.col("total_tf").desc(), F.col("tok").asc())
        .limit(25)
    )


VOCAB_SIZE = 30  # top-V tokens form the closed vocabulary


@query(
    "text_vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
            ORDER BY n DESC, tok ASC LIMIT {VOCAB_SIZE}
        )
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS oov_ppm
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source
    """,
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-30 closed
    vocabulary by corpus frequency (deterministic tie-break), then
    report each source's token count and out-of-vocabulary rate in
    exact ppm — the check run before committing a tokenizer to a new
    data mixture (a source with a high OOV rate will fragment into
    bytes and blow up its effective token cost).

    The vocabulary is a broadcast-sized artifact by construction
    (top-V of a frequency aggregate — TakeOrdered, no global sort);
    coverage is then a broadcast left join of token instances against
    it, partial-aggregated per source. Token instances never shuffle:
    the only wide exchanges carry per-term counts."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "source", F.explode("toks").alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tokens").cast("long").alias("oov_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints — position-aware sub-document overlap
# ---------------------------------------------------------------------------

WIN_K = 4  # tokens per k-gram
WIN_W = 5  # winnowing window: one fingerprint selected per W k-grams
WIN_DF_CAP = 10  # fingerprints in more docs than this are boilerplate
WIN_MIN_SHARED = 3  # report pairs sharing at least this many fingerprints
_POS_BITS = 1 << 20  # pos packed into the low 20 bits of the select key


@query(
    "text_winnowing_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= {WIN_K + WIN_W - 1}
    ),
    kg AS (
        SELECT doc_id, u.pos,
               CAST('0x' || substring(u.k, 1, 10) AS BIGINT) * {_POS_BITS}
                   + greatest(0, {_POS_BITS - 1} - u.pos) AS key
        FROM (
            SELECT doc_id,
                   unnest([{{'pos': i,
                            'k': md5(array_to_string(toks[i:i + {WIN_K - 1}], ' '))}}
                           FOR i IN range(1, len(toks) - {WIN_K - 2})]) AS u
            FROM t
        )
    ),
    sel AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY doc_id) AS nk,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {WIN_W - 1} FOLLOWING) AS wmin
        FROM kg
    ),
    fp AS (
        SELECT DISTINCT doc_id, wmin // {_POS_BITS} AS fp
        FROM sel WHERE pos <= nk - {WIN_W - 1}
    ),
    keep AS (
        SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {WIN_DF_CAP}
    ),
    fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs WHERE n_shared >= {WIN_MIN_SHARED}
    """,
)
def text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS, Schleimer et al. 2003) document fingerprints:
    hash every {K}-token k-gram, slide a {W}-wide window over the hash
    sequence, and keep the window minimum — ties broken toward the
    RIGHTMOST position by packing ``(hash, reversed pos)`` into one
    integer select key, so the selection is a pure ``MIN`` window
    aggregate instead of stateful scan logic. Two docs sharing enough
    selected fingerprints share runs of verbatim text (plagiarism /
    template detection that document-level dedup misses).

    Scale plan: fingerprint density is 2/(W+1) of k-grams by the
    winnowing guarantee, the pair join is keyed on fingerprint value,
    and fingerprints occurring in more than {CAP} docs are dropped as
    boilerplate first (the MOSS practice), so candidate volume is
    bounded by output density — never corpus². The window aggregate
    partitions by doc_id: no global sort anywhere.

    The reversed position is clamped at 0 (``greatest``), so documents
    beyond ~1M tokens degrade gracefully — positions past the 20-bit
    cap all tie (selection may then pick a leftmost-of-tied k-gram,
    still a valid window minimum) instead of going negative, which
    would corrupt the packed hash field and let Spark's truncating DIV
    diverge from DuckDB's floor ``//``. The clamp is identical in both
    engines."""
    # single-file corpus: spread the k-gram-hash CPU across cores
    docs = with_tokens(
        load_table(spark, sf_dir, "documents").repartition(32, "doc_id")
    ).filter(F.size("toks") >= WIN_K + WIN_W - 1)
    kg = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {WIN_K - 1}),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {WIN_K}))))"
            )
        ).alias("pos0", "kh"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (
            F.conv(F.substring("kh", 1, 10), 16, 10).cast("long") * _POS_BITS
            + F.greatest(F.lit(0), F.lit(_POS_BITS - 1) - F.col("pos0") - F.lit(1))
        ).alias("key"),
    )
    wdoc = Window.partitionBy("doc_id")
    wsel = wdoc.orderBy("pos").rowsBetween(0, WIN_W - 1)
    fp = (
        kg.select(
            "doc_id",
            "pos",
            F.count("*").over(wdoc).alias("nk"),
            F.min("key").over(wsel).alias("wmin"),
        )
        .filter(F.col("pos") <= F.col("nk") - (WIN_W - 1))
        .select("doc_id", F.expr(f"wmin DIV {_POS_BITS}").alias("fp"))
        .distinct()
    )
    # document-frequency cap as a window count over the fp partition:
    # the former groupBy + join-back re-shuffled the full fingerprint
    # set on the same key it was just aggregated on (2.0 → 1.3 s at
    # sf0.1); the window leaves the rows partitioned on fp, which the
    # pair self-join below then reuses
    fpk = (
        fp.withColumn("ndocs", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("ndocs") <= WIN_DF_CAP)
        .select("doc_id", "fp")
    )
    a = fpk.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fpk.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal quality buckets — a CCNet-style perplexity filter
# ---------------------------------------------------------------------------


@query(
    "text_surprisal_deciles",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    scored AS (
        SELECT t.doc_id,
               length(bin(CAST(tot.n // v.cnt AS BIGINT))) AS s
        FROM tok t JOIN vocab v USING (tk) CROSS JOIN tot
    ),
    per AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(s) AS sum_surprisal
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_surprisal AS BIGINT) AS sum_surprisal,
           CAST(sum_surprisal AS DOUBLE) / n_tokens AS avg_surprisal,
           CAST(NTILE(10) OVER (
               ORDER BY CAST(sum_surprisal AS DOUBLE) / n_tokens, doc_id
           ) AS INT) AS decile
    FROM per
    """,
)
def text_surprisal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality filter, self-trained: score
    every document by the mean surprisal of its tokens under the
    corpus's own unigram distribution, then bucket into deciles (CCNet
    keeps the low-perplexity head/middle and drops the tail).

    Surprisal is the INTEGER log2 bucket ``length(bin(N div cnt))`` —
    floor(log2(N/cnt)) + 1 computed through integer division and a
    binary-string length, which both engines evaluate exactly (a
    float ``ln`` would differ in the last ulp between the JVM and
    DuckDB and poison the hash compare). The mean is int/int division
    in double: deterministic.

    Scale plan: the unigram table is a per-term partial-aggregated
    count (shuffle ∝ vocabulary); the score join is token→cnt keyed by
    term; per-doc totals partial-aggregate. The only global order is
    the final NTILE over the aggregated per-DOC rows: its input is
    bounded by |documents| (~50k rows at 10x sf0.1), milliseconds for
    the single-task sort.

    The corpus token total comes from SUMMING THE UNIGRAM TABLE
    rather than re-aggregating the token stream: same number,
    vocabulary-sized input, one fewer full tokenize pass (tok was
    evaluated three times — vocab, total, score join; r11 A/B: pure
    win at every scale, 2.95 -> 2.76 s at 10x/32c, -0.04 s at sf0.1).
    A hash-spread of the scan (the pattern the sibling tokenizing
    queries use) was ALSO measured and REJECTED here: it trades
    +0.2 s at sf0.1 (23%) for -0.6 s at 10x (27%) — but the flat
    stage it fixes is the tokenize fused onto a 1-2-split scan of a
    5.8 MB bench file, and at real corpus sizes the scan splits at
    maxPartitionBytes boundaries and the fused tokenize spreads with
    it (unlike the simsearch corpus spread, which cleared a 5.3x win
    for +0.06 s and was kept)."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode("toks").alias("tk"))
    vocab = tok.groupBy("tk").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    per = (
        tok.join(vocab, "tk")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.length(F.bin(F.expr("n DIV cnt"))).cast("long").alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("s").cast("long").alias("sum_surprisal"),
        )
    )
    avg = F.col("sum_surprisal").cast("double") / F.col("n_tokens")
    wq = Window.orderBy(avg, F.col("doc_id"))
    return per.select(
        "doc_id",
        "n_tokens",
        "sum_surprisal",
        avg.alias("avg_surprisal"),
        F.ntile(10).over(wq).alias("decile"),
    )


# ---------------------------------------------------------------------------
# Overlap-coefficient containment pairs — short-inside-long duplication
# ---------------------------------------------------------------------------

CONT_DF_CAP = 20  # shingles in more docs than this don't discriminate
CONT_NUM, CONT_DEN = 4, 5  # overlap threshold 4/5 as an exact rational


@query(
    "text_containment_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest([md5(array_to_string(toks[i:i + 2], ' '))
                       FOR i IN range(1, len(toks) - 1)]) AS sk
        FROM t
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    keep AS (SELECT sk FROM sh GROUP BY sk HAVING COUNT(*) <= {CONT_DF_CAP}),
    shc AS (SELECT s.doc_id, s.sk FROM sh s JOIN keep USING (sk)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM shc a JOIN shc b ON a.sk = b.sk AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT) AS n_shared,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(shared AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS overlap_coef
    FROM pairs
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE shared * {CONT_DEN} >= {CONT_NUM} * least(sa.n_sh, sb.n_sh)
    """,
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient near-duplication: |A∩B| / min(|A|,|B|) over
    distinct token-3-gram shingle sets. Jaccard misses a short document
    quoted whole inside a long one (the union dominates); the overlap
    coefficient is the standard containment detector for that case.

    The threshold compare is the exact integer cross-multiplication
    ``shared·5 ≥ 4·min(|A|,|B|)`` — no float boundary for the hash
    compare to trip on. Scale plan mirrors the Jaccard pair query:
    inverted-index join on shingle hash, document-frequency cap {CAP}
    pruning non-discriminative shingles first (candidates ∝ shared
    content, never corpus²), sizes joined from a per-doc aggregate."""
    docs = with_tokens(load_table(spark, sf_dir, "documents")).filter(
        F.size("toks") >= 3
    )
    # the corpus scan is one parquet split — spread the CPU-heavy
    # shingling across every core, build each doc's DISTINCT shingle
    # array once (array_distinct ≡ the former per-(doc, shingle)
    # DISTINCT, without its shuffle), and checkpoint the compact
    # |docs|-row form; the three consumers (sizes, df-cap, both join
    # sides) re-explode from it instead of re-shingling — previously
    # the shingle+distinct chain recomputed per consumer, including
    # two serial single-task passes
    sets = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> md5(concat_ws(' ', slice(toks, i, 3))))"
                )
            ).alias("shs"),
        )
        .localCheckpoint()
    )
    sh = sets.select("doc_id", F.explode("shs").alias("sk"))
    sz = sets.select("doc_id", F.size("shs").alias("n_sh"))
    # df-cap as a window count over the sk partition (no groupBy +
    # join-back re-shuffle; the self-join below reuses the partitioning)
    shc = (
        sh.withColumn("d", F.count("*").over(Window.partitionBy("sk")))
        .filter(F.col("d") <= CONT_DF_CAP)
        .select("doc_id", "sk")
    )
    a = shc.select(F.col("doc_id").alias("doc_a"), "sk")
    b = shc.select(F.col("doc_id").alias("doc_b"), "sk")
    pairs = (
        a.join(b, ["sk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    mn = F.least(F.col("n_a"), F.col("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("shared") * CONT_DEN >= CONT_NUM * mn)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.col("shared").cast("double") / mn).alias("overlap_coef"),
        )
    )


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tok AS (
        SELECT doc_id, u.w, u.i,
               CASE WHEN u.w IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
        FROM (
            SELECT doc_id,
                   unnest([{{'w': toks[i], 'i': i}}
                           FOR i IN range(1, len(toks) + 1)]) AS u
            FROM t
        )
    ),
    phrased AS (
        SELECT doc_id, w, phrase_id FROM (
            SELECT doc_id, w, is_stop,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i)
                       AS phrase_id
            FROM tok
        ) WHERE is_stop = 0
    ),
    phrases AS (
        SELECT doc_id, phrase_id, COUNT(*) AS plen, list(w) AS ws
        FROM phrased GROUP BY doc_id, phrase_id
    ),
    words AS (
        SELECT unnest(ws) AS word, plen FROM phrases
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS degree,
           CAST(SUM(plen) * 1000000 // COUNT(*) AS BIGINT) AS score_ppm
    FROM words GROUP BY word
    ORDER BY score_ppm DESC, word LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    where degree sums the lengths of the phrases it appears in —
    co-occurrence inside long phrases marks topical words, bare
    frequency marks filler. Top-20 words by score, exact-ppm integers
    end to end (degree·10⁶ div freq), deterministic tie-break on the
    word itself.

    Plan: the phrase segmentation is a running SUM of the stopword
    indicator over a doc-partitioned window (bounded by doc length —
    never a global sort), phrase stats are one (doc, phrase) aggregate,
    and the word rollup is an ordinary partial-aggregated groupBy fused
    into TakeOrdered top-k. Everything is built-in codegen expressions;
    the whole operator is three keyed shuffles regardless of corpus
    size."""
    # scan spread measured and REJECTED here (r11 cores screen): a
    # pre-explode repartition(doc_id) helps only the 4-core level
    # (2.62 -> 1.67 s at 10x) — at 32c the query is floor-bound
    # either way (2.33 -> 2.22 s, and the spread form scales
    # NEGATIVELY 1.67 -> 2.22 from 4 to 32) and sf0.1 pays +0.37 s
    # for the extra exchange. The doc-window shuffle right below
    # already spreads everything downstream of the explode.
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.posexplode("toks").alias("i", "w"),
    ).withColumn(
        "is_stop", F.when(F.col("w").isin(*STOPWORDS), 1).otherwise(0)
    )
    w_run = Window.partitionBy("doc_id").orderBy("i")
    phrased = tok.withColumn("phrase_id", F.sum("is_stop").over(w_run)).filter(
        F.col("is_stop") == 0
    )
    phrases = phrased.groupBy("doc_id", "phrase_id").agg(
        F.count("*").alias("plen"), F.collect_list("w").alias("ws")
    )
    words = phrases.select(F.explode("ws").alias("word"), "plen")
    return (
        words.groupBy("word")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
            F.expr("sum(plen) * 1000000 div count(*)")
            .cast("long")
            .alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge learning — tokenizer induction over the corpus
# ---------------------------------------------------------------------------

BPE_MERGES = 8  # learned merge rules


def _bpe_oracle_sql() -> str:
    """DuckDB twin of text_bpe_merges: the K merge iterations unrolled
    as nested CTEs; each iteration counts weighted adjacent symbol
    pairs, picks the (count DESC, pair ASC) argmax, and applies the
    merge with the same greedy left-to-right string fold the Spark
    side uses (list_reduce with the spelled-so-far string as the
    accumulator)."""
    spell = (
        "array_to_string(list_transform(range(1, len(word) + 1),"
        " i -> substring(word, i, 1)), ' ')"
    )
    fold = (
        "list_reduce(string_split(spelled, ' '), (acc, x) -> "
        "CASE WHEN (acc = pa OR ends_with(acc, ' ' || pa)) AND x = pb "
        "THEN CASE WHEN acc = pa THEN pa || pb "
        "ELSE left(acc, length(acc) - length(pa) - 1) || ' ' || pa || pb END "
        "ELSE acc || ' ' || x END)"
    )
    sql = [
        f"""
    WITH w0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt, {spell} AS spelled
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0
        GROUP BY word
    )"""
    ]
    for k in range(1, BPE_MERGES + 1):
        p, w = k - 1, k
        sql.append(f""",
    p{k} AS (
        SELECT syms[i] || ' ' || syms[i + 1] AS pair,
               CAST(SUM(cnt) AS BIGINT) AS pair_cnt
        FROM (SELECT string_split(spelled, ' ') AS syms, cnt FROM w{p}),
             unnest(range(1, len(syms))) AS t(i)
        GROUP BY 1
    ),
    b{k} AS (
        SELECT {k} AS rank, pair, pair_cnt,
               split_part(pair, ' ', 1) AS pa, split_part(pair, ' ', 2) AS pb
        FROM p{k} ORDER BY pair_cnt DESC, pair LIMIT 1
    ),
    w{w} AS (
        SELECT word, cnt, {fold} AS spelled
        FROM w{p}, b{k}
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST(rank AS BIGINT) AS rank, pair, pair_cnt FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    sql.append(f"\n    {unions}")
    return "".join(sql)


@query("text_bpe_merges", oracle=_bpe_oracle_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
    tokenizer-induction stage of an LLM data pipeline, as BPE_MERGES
    learned merge rules over the corpus. The classic algorithm: spell
    every distinct word as space-joined symbols, then repeatedly count
    weighted adjacent symbol pairs, take the most frequent (ties to
    the lexicographically smallest pair), and merge every occurrence.

    Determinism: pair counts are exact BIGINTs, the argmax is a total
    order (count DESC, pair ASC), and the merge application is an
    exact greedy left-to-right fold in BOTH engines: the accumulator
    is the spelled-so-far string, and a step merges iff the last
    emitted token equals the pair's left symbol and the incoming one
    its right — which reproduces classic greedy semantics exactly,
    including self-pairs like (a, a) on odd runs, where naive
    string-replace devices provably diverge (a replaced occurrence
    consumes the separator the next match needs). Held to a
    pure-Python greedy reference in tests/test_bpe_merges.py.

    Scale plan: the ONLY corpus-sized operation is the initial
    groupBy(word) count (map-side combined); every merge iteration
    runs over the |vocab| table, which is bounded by the token
    universe, not the corpus. The per-iteration argmax `.collect()` is
    ONE row (bounded driver metadata, same contract as the PageRank
    convergence probe); the vocab table is checkpointed per round to
    keep lineage flat. At 100 TB you'd sample the vocab build, not the
    merge loop — this is the architecture HuggingFace tokenizers uses,
    expressed relationally."""
    from ..session import iter_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "spelled",
            F.expr(
                "array_join(transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1)), ' ')"
            ),
        )
    )
    # the vocab is bounded by the token universe (a few thousand rows
    # even at 100 TB), so the merge loop runs on ONE partition — each
    # round is a single task instead of 16 near-empty ones
    vocab = iter_checkpoint(words.select("cnt", "spelled").coalesce(1))
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = (
            vocab.select("cnt", F.split("spelled", " ").alias("syms"))
            .select(
                "cnt",
                F.explode(
                    # guard: Spark's sequence(1, 0) steps BACKWARD
                    # ([1, 0]), so single-symbol words need an explicit
                    # empty pair list, not an empty sequence
                    F.expr(
                        "CASE WHEN size(syms) < 2 THEN array()"
                        " ELSE transform(sequence(1, size(syms) - 1),"
                        " i -> concat(syms[i - 1], ' ', syms[i])) END"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("pair_cnt"))
            .orderBy(F.desc("pair_cnt"), F.asc("pair"))
            .limit(1)
        )
        best = pairs.collect()
        if not best:
            break
        pair, pair_cnt = best[0]["pair"], best[0]["pair_cnt"]
        merges.append((rank, pair, pair_cnt))
        pa, pb = pair.split(" ")
        merged = pa + pb
        sep_pa = " " + pa

        def step(acc, x):
            # pa/pb/merged/sep_pa close over the loop variables; PySpark
            # inspects the lambda arity, so no default-arg capture here
            tail_cut = F.substr(acc, F.lit(1), F.length(acc) - len(sep_pa))
            do_merge = ((acc == pa) | acc.endswith(sep_pa)) & (x == pb)
            return (
                F.when(acc == F.lit(""), x)
                .when(
                    do_merge,
                    F.when(acc == pa, F.lit(merged)).otherwise(
                        F.concat(tail_cut, F.lit(" " + merged))
                    ),
                )
                .otherwise(F.concat(acc, F.lit(" "), x))
            )

        col = F.aggregate(F.split("spelled", " "), F.lit(""), step)
        # lazy: next round's argmax collect materializes this rewrite
        # (one job per round, and the final round's rewrite — which no
        # one reads — is never computed at all)
        vocab = iter_checkpoint(
            vocab.select("cnt", col.alias("spelled")), eager=False
        )
    return spark.createDataFrame(
        merges, "rank long, pair string, pair_cnt long"
    )


@query(
    "text_fertility_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(text, ' '))) * 1000000
                // SUM(length(text)) AS BIGINT) AS tokens_per_mchar,
           CAST(SUM(length(text)) * 1000000
                // SUM(len(string_split(text, ' '))) AS BIGINT) AS chars_per_mtok
    FROM documents GROUP BY lang
    """,
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile per language: token and character
    totals plus both exact-ppm ratios (tokens per million chars, chars
    per million tokens). Fertility is the budgeting number behind a
    multilingual mixture — a language whose text fragments into more
    tokens per character consumes proportionally more of a fixed token
    budget, so mixture weights and per-language epoch quotas are set
    from exactly this table. Pure integer arithmetic end to end
    (counts, then BIGINT floor division — nonnegative, so Spark DIV ≡
    DuckDB ``//``), hash-stable by construction.

    Scale: one scan, one partial-aggregated shuffle keyed on lang;
    output is |languages| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
            F.length("text").cast("long").alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("chars").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 1000000 div n_chars").cast("long").alias(
                "tokens_per_mchar"
            ),
            F.expr("n_chars * 1000000 div n_tokens").cast("long").alias(
                "chars_per_mtok"
            ),
        )
    )


XLING_N = 8  # cross-lingual contamination shingle width (tokens)


@query(
    "text_crosslingual_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - {XLING_N - 2}),
                   i -> array_to_string(t[i:i+{XLING_N - 1}], ' ')))) AS g
        FROM toks WHERE len(t) >= {XLING_N}
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs_a,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_docs_b
    FROM sh a JOIN sh b ON a.g = b.g AND a.lang < b.lang
    GROUP BY a.lang, b.lang
    """,
)
def text_crosslingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual contamination probe: token-8-gram shingles shared
    between documents of DIFFERENT language labels — the detector for
    mislabeled language, copy-paste leakage, and untranslated
    boilerplate crossing language shards (any of which corrupts
    per-language mixture accounting and evaluation splits). Output is
    one row per language pair with the shared-shingle volume and how
    many documents on each side participate.

    Scale: the inverted-index join shape — shingles join shingles on
    content, candidates ∝ shared content, never corpus²; the lang_a <
    lang_b constraint halves the pair space and the aggregation is
    one shuffle keyed by the language pair."""
    # single-file corpus: spread the shingling CPU across cores
    docs = with_tokens(
        load_table(spark, sf_dir, "documents").repartition(32, "doc_id")
    ).filter(F.size("toks") >= XLING_N)
    sh = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(toks) - {XLING_N - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {XLING_N})))"
                )
            )
        ).alias("g"),
    )
    a = sh.select(F.col("doc_id").alias("da"), F.col("lang").alias("lang_a"), "g")
    b = sh.select(F.col("doc_id").alias("db"), F.col("lang").alias("lang_b"), "g")
    return (
        a.join(b, ["g"])
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_shingles"),
            F.countDistinct("da").cast("long").alias("n_docs_a"),
            F.countDistinct("db").cast("long").alias("n_docs_b"),
        )
    )


VOCAB_BUCKET = 2  # docs per vocabulary-growth checkpoint (the synthetic
# corpus draws from a ~31-type vocabulary that saturates within a dozen
# docs; production block sizes are thousands of docs — same plan)


@query(
    "text_vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    first_seen AS (
        SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    buckets AS (
        SELECT first_doc // {VOCAB_BUCKET} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS new_types
        FROM first_seen GROUP BY first_doc // {VOCAB_BUCKET}
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST((bucket + 1) * {VOCAB_BUCKET} AS BIGINT) AS docs_seen,
           new_types,
           CAST(SUM(new_types) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM buckets
    """,
)
def text_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law) curve: distinct token types seen
    after each block of {B} documents in deterministic doc_id order —
    the corpus-analysis curve behind tokenizer sizing ("is the
    vocabulary saturating or still growing?") and dedup health (a
    too-flat curve means the tail adds no new content). Computed
    without any quadratic prefix work: each type contributes exactly
    once at its FIRST document (min(doc_id) per type — one shuffle),
    new-type counts bucket by block, and one window cumsum over the
    |blocks| rows yields the running vocabulary size.

    Scale: corpus-sized work is the distinct-types aggregation (one
    shuffle on token); the growth curve itself is |corpus|/{B} rows —
    the window runs over block summaries, never raw tokens."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
    first_seen = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    buckets = first_seen.groupBy(
        F.expr(f"first_doc div {VOCAB_BUCKET}").alias("bucket")
    ).agg(F.count("*").cast("long").alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        F.col("bucket").cast("long").alias("bucket"),
        ((F.col("bucket") + 1) * VOCAB_BUCKET).cast("long").alias("docs_seen"),
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("vocab_size"),
    )


LANG_PROFILE_TOP = 12  # trigrams kept per language profile


@query(
    "text_lang_trigram_profile",
    oracle=f"""
    WITH tg AS (
        SELECT lang,
               unnest(list_transform(range(1, length(text) - 1),
                                     i -> substring(text, i, 3))) AS g
        FROM documents WHERE length(text) >= 3
    ),
    counts AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS n
        FROM tg GROUP BY lang, g
    ),
    tot AS (SELECT lang, SUM(n) AS tn FROM counts GROUP BY lang),
    ranked AS (
        SELECT c.lang, c.g, c.n,
               CAST(c.n * 1000000 // t.tn AS BIGINT) AS freq_ppm,
               ROW_NUMBER() OVER (PARTITION BY c.lang
                                  ORDER BY c.n DESC, c.g) AS rnk
        FROM counts c JOIN tot t ON c.lang = t.lang
    )
    SELECT lang, g AS trigram, n, freq_ppm, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {LANG_PROFILE_TOP}
    """,
)
def text_lang_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profiles — the actual basis of
    n-gram language identification (Cavnar–Trenkle): the top trigrams
    by frequency per language label, with exact-ppm frequencies. A
    langid model is "rank unknown text's trigrams, compare profile
    distance"; this query builds the reference profiles from labeled
    data, and drift in these tables is how a labeling pipeline notices
    corpus composition shifts. Counts and floor-div ppm only —
    hash-stable; ties broken by trigram for a deterministic top-k.

    Scale: the trigram explode is an array lambda off the scan (no
    shuffle), one count shuffle on (lang, trigram), and the rank
    window partitions by language — |langs|·top rows out. The walk is
    chunked: substring(text, i, 3) at arbitrary i rescans the string
    (UTF8String has no offset index), making the naive per-position
    form O(len²) per doc — cutting the text into 126-char chunks with
    a 2-char overlap covers every trigram start exactly once (the last
    chunk always holds ≥3 chars because chunk count is
    ceil((len−2)/126)) and the explicit repartition spreads the
    single-file corpus across cores. Measured 2.6 s → 1.2 s at
    sf0.1."""
    C = 126
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    tg = docs.select(
        "lang",
        F.explode(
            F.expr(
                f"flatten(transform("
                f" transform(sequence(1, CAST(ceil((length(text) - 2) / {C}.0) AS INT)),"
                f"           c -> substring(text, (c - 1) * {C} + 1,"
                f"                CAST(least({C} + 2,"
                f"                     length(text) - (c - 1) * {C}) AS INT))),"
                f" ch -> transform(sequence(1, length(ch) - 2),"
                f"        i -> substring(ch, i, 3))))"
            )
        ).alias("g"),
    )
    counts = tg.groupBy("lang", "g").agg(F.count("*").cast("long").alias("n"))
    tot = counts.groupBy("lang").agg(F.sum("n").alias("tn"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
    return (
        counts.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            F.col("g").alias("trigram"),
            "n",
            F.expr("CAST(n * 1000000 div tn AS BIGINT)").alias("freq_ppm"),
        )
        .withColumn("rnk", F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("trigram"))
        ))
        .filter(F.col("rnk") <= LANG_PROFILE_TOP)
    )


PREFIX_LEN = 32  # boilerplate signature width (chars)


@query(
    "text_boilerplate_prefix_clusters",
    oracle=f"""
    SELECT substring(text, 1, {PREFIX_LEN}) AS prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY substring(text, 1, {PREFIX_LEN})
    HAVING COUNT(*) > 1
    """,
)
def text_boilerplate_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-header detection: documents sharing an exact
    {P}-char prefix — the cheap first-pass that catches templated
    headers, cookie banners, and licence preambles BEFORE expensive
    shingle dedup runs (a prefix cluster spanning many sources is
    near-certain boilerplate; one source, near-certain template).
    Output is one row per repeated prefix with its document count,
    source spread, and earliest exemplar.

    Scale: one partial-aggregated shuffle keyed on the fixed-width
    prefix — the prefix IS the dedup key, so this is the X1 exact
    shape at O(P) bytes per row regardless of document length."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.substring("text", 1, PREFIX_LEN).alias("prefix"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_vocab_overlap_langs",
    oracle="""
    WITH v AS (
        SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    sizes AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY lang),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT i.lang_a, i.lang_b, sa.n AS vocab_a, sb.n AS vocab_b, i.n_shared,
           CAST(i.n_shared * 1000000 // (sa.n + sb.n - i.n_shared) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.lang = i.lang_a
    JOIN sizes sb ON sb.lang = i.lang_b
    """,
)
def text_vocab_overlap_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary overlap: exact-ppm Jaccard between
    each language pair's distinct token vocabularies — the script/
    loanword-sharing matrix a multilingual tokenizer design reads
    (high overlap → shared subword space pays; near-zero → per-script
    vocabulary budgets), and a labeling sanity check (two 'different'
    languages with ~identical vocabularies are one mislabeled
    corpus). Pure counts and floor-div ppm.

    Scale: the distinct (lang, token) pass is the only corpus-sized
    shuffle; the overlap self-join is keyed on token with |langs|²
    output rows."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select("lang", F.explode(F.split("text", " ")).alias("tok")).distinct()
    sizes = v.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    a = v.select(F.col("lang").alias("lang_a"), "tok")
    b = v.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, ["tok"])
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.expr(
                "CAST(n_shared * 1000000 div (vocab_a + vocab_b - n_shared)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
