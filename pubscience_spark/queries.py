"""Driver-facing query battery: one entry per operator family (SURVEY.md §2)
plus the training-data tier, each with a DuckDB oracle where the semantics
are SQL-expressible.

Cross-engine determinism rules used throughout:
- floats are rounded (4-6 dp) on BOTH sides; money sums go through
  decimal(18,4) so accumulation order cannot change the result;
- sampling/splits use md5-prefix buckets (engine-portable), never rand();
- keep-first dedup uses an explicit total order (doc_id / url), never
  file/partition order;
- every computed column is aliased identically in Spark and SQL (driver
  hash-compares by sorted column name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup as dedup_ops
from .operators import filters as filter_ops
from .operators import similarity as sim_ops
from .operators import stats as stats_ops
from .operators.clean import split_sentences_udf
from .operators.stats import word_count_col


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with guaranteed parallelism for UDF-/expression-heavy
    per-row queries (the fixture file is ONE scan split — see
    operators/util.spread; no-op on multi-split production inputs)."""
    from .operators.util import spread
    return spread(_docs(spark, sf_dir))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# dedup family (X1, X2, J2)
# --------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    """X1: sha256 exact dedup, keep-first by doc_id.

    Round 8: projected to (survivor id, key), keep-first ≡ per-key
    ``min(doc_id)`` — a HashAggregate with map-side partial aggregation
    replaces the window sort (guide §2.3 "aggregate before you shuffle";
    a viral duplicate combines per-mapper instead of sorting one hot
    partition — the :func:`operators.dedup.mark_duplicates_incremental`
    rationale). Identical output."""
    return (_docs(spark, sf_dir)
            .groupBy(F.sha2(F.col("text"), 256).alias("sha256_key"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "sha256_key"))


SQL_EXACT_DEDUP = """
SELECT doc_id, sha256(text) AS sha256_key
FROM (SELECT doc_id, text,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
      FROM documents) WHERE rn = 1
"""


def q_prefix_dedup(spark, sf_dir):
    """X2: 500-char normalized-prefix dedup key + keep-first survivors.

    ASCII corpus ⇒ the native regexp is byte-equal to the CPython kernel
    (the kernel-backed pUDF variant is byte-contract-tested in pytest).

    Round 8: keep-first on the (id, key) projection ≡ per-key
    ``min(doc_id)`` — HashAggregate with map-side combine instead of the
    window's full sort (same rewrite as ``exact_dedup``; identical
    output, hot-key safe)."""
    return (_docs_spread(spark, sf_dir)
            .groupBy(F.regexp_replace(F.lower(F.substring("text", 1, 500)),
                                      "[^a-zA-Z0-9]", "").alias("dedup_key"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "dedup_key"))


SQL_PREFIX_DEDUP = """
SELECT doc_id, dedup_key FROM (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 500)), '[^a-zA-Z0-9]', '', 'g')
           AS dedup_key,
         row_number() OVER (
           PARTITION BY regexp_replace(lower(substr(text, 1, 500)),
                                       '[^a-zA-Z0-9]', '', 'g')
           ORDER BY doc_id) rn
  FROM documents) WHERE rn = 1
"""


def q_events_keepfirst(spark, sf_dir):
    """J2/window: first event per user by (ts, event_id) total order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (_events(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", F.col("ts").alias("first_ts"),
                    F.col("event_type").alias("first_type")))


SQL_EVENTS_KEEPFIRST = """
SELECT user_id, ts AS first_ts, event_type AS first_type
FROM (SELECT user_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) rn
      FROM events) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# stats family (A1, A2, A3, A5, A6)
# --------------------------------------------------------------------------

def q_corpus_stats(spark, sf_dir):
    """A1 + A3: per-source corpus stats (scripts/clean.py:872-907) with
    the duplicate counting (scripts/clean.py:699-720) folded in as
    ``n_distinct_texts`` / ``n_duplicates`` — one battery slot covers
    both (round-7 merge that freed the slot for ``span_dedup`` under
    the battery's 50-entry cap).
    Averages are derived from exact integer sums → bit-identical across
    engines."""
    d = _docs(spark, sf_dir).withColumn("__w", word_count_col("text"))
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__w").cast("long")).alias("total_words"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        # round 8: distinct over sha2(text) — the Expand shuffle carries
        # a fixed 64-char key instead of the document body (guide §2.3
        # narrower types / shuffle metadata not payloads). Equal counts:
        # distinct texts ↔ distinct SHA-256 digests (a divergence needs
        # a SHA-256 collision; none exists at any input size that fits
        # the planet's storage). The oracle keeps count(DISTINCT text).
        F.countDistinct(F.sha2(F.col("text"), 256))
        .alias("n_distinct_texts"))
    return agg.select(
        "source", "n_docs", "total_words", "total_chars",
        F.round(F.col("total_words") / F.col("n_docs"), 4).alias("avg_words"),
        F.round(F.col("total_chars") / F.col("n_docs"), 4).alias("avg_chars"),
        "n_distinct_texts",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_duplicates"))


SQL_CORPUS_STATS = r"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS total_words,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         count(DISTINCT text) AS n_distinct_texts
  FROM documents GROUP BY source)
SELECT source, n_docs, total_words, total_chars,
       round(CAST(total_words AS DOUBLE) / n_docs, 4) AS avg_words,
       round(CAST(total_chars AS DOUBLE) / n_docs, 4) AS avg_chars,
       n_distinct_texts,
       n_docs - n_distinct_texts AS n_duplicates
FROM s
"""


def q_vocab_stats(spark, sf_dir):
    """A2: corpus word total + exact vocabulary size."""
    return stats_ops.vocab_stats(_docs(spark, sf_dir))


SQL_VOCAB_STATS = """
SELECT count(w) AS total_words, count(DISTINCT w) AS vocab_size
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0)
"""


def q_span_dedup(spark, sf_dir):
    """ExactSubstr duplicate-span removal (Lee et al. 2022, the
    RefinedWeb recipe; beyond the reference, which stops at doc-level
    MinHash — README.md:89-93) at ``min_tokens=8`` over ``documents``:
    every 8-token span that occurs elsewhere in the corpus keeps its
    first ``(doc_id, pos)`` occurrence; later occurrences are removed
    with offset-safe whitespace-preserving reassembly
    (:func:`operators.spandedup.drop_duplicate_spans`).

    ORACLE: DuckDB replays the semantics hash-free — the literal
    8-token LISTS are the group keys (so a Spark-side 128-bit gram-key
    collision would surface as a text mismatch, not hide), keeper =
    ``row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)``,
    covered positions exploded and re-merged, and the text rebuilt
    from token + separator-run lists with list comprehensions. The
    tokenizer is the EXPLICIT ASCII whitespace class on both sides
    (RE2 ``\\v`` == Java ``\\x0B``; the engines' ``\\s`` disagree)."""
    from .operators.spandedup import drop_duplicate_spans
    d = _docs_spread(spark, sf_dir).select("doc_id", "text")
    return drop_duplicate_spans(d, "doc_id", "text", min_tokens=8)


SQL_SPAN_DEDUP = r"""
WITH d AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '[^ \t\n\r\f\v]+') AS ts,
         regexp_extract_all(text, '[ \t\n\r\f\v]+') AS ss,
         CASE WHEN regexp_matches(text, '^[ \t\n\r\f\v]')
              THEN 1 ELSE 0 END AS pre
  FROM documents),
g AS (
  SELECT doc_id, u.s AS pos, ts[u.s + 1 : u.s + 8] AS gram
  FROM d, UNNEST(generate_series(0, len(ts) - 8)) AS u(s)),
m AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY gram) AS c,
           row_number() OVER (PARTITION BY gram
                              ORDER BY doc_id, pos) AS rn
    FROM g) WHERE c > 1 AND rn > 1),
cov AS (
  SELECT doc_id, list_sort(list(DISTINCT pos + v.j)) AS cv
  FROM m, UNNEST(generate_series(0, 7)) AS v(j)
  GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN cv IS NULL THEN d.text ELSE
    (CASE WHEN pre = 1 THEN ss[1] ELSE '' END) ||
    -- array_to_string of an EMPTY list is NULL in DuckDB, not ''
    coalesce(array_to_string(
        [ts[i + 1] || coalesce(ss[pre + i + 1], '')
         FOR i IN generate_series(0, len(ts) - 1)
         IF NOT list_contains(cv, i)], ''), '')
  END AS text,
  CAST(CASE WHEN cv IS NULL THEN 0 ELSE
    1 + len([1 FOR i IN generate_series(2, len(cv))
             IF cv[i] - cv[i - 1] > 1])
  END AS BIGINT) AS n_spans_removed,
  CAST(coalesce(len(cv), 0) AS BIGINT) AS n_tokens_removed
FROM d LEFT JOIN cov USING (doc_id)
"""


def q_group_concat(spark, sf_dir):
    """A5 + A6: order-pinned per-user event-type concat
    (sandbox/stats_testing.ipynb cell 10) with the group-size count
    (A6) folded in — one battery slot covers both (round-4 merge that
    freed the slot for ivfpq_topk under the driver's 50-entry cap)."""
    e = _events(spark, sf_dir)
    packed = F.array_sort(F.collect_list(
        F.struct(F.col("ts").alias("o1"), F.col("event_id").alias("o2"),
                 F.col("event_type").alias("t"))))
    return (e.groupBy("user_id")
            .agg(F.array_join(F.transform(packed, lambda s: s["t"]), "|")
                 .alias("concat_types"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_GROUP_CONCAT = """
SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS concat_types,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# filter family (F1/F2, F3/F4, F8)
# --------------------------------------------------------------------------

def q_length_gate(spark, sf_dir):
    """F1+F2: char- and word-length gates."""
    d = _docs(spark, sf_dir).withColumn(
        "n_words", word_count_col("text").cast("long"))
    return (d.where(filter_ops.min_chars("text", 100)
                    & (F.col("n_words") > 40))
            .select("doc_id", "n_words"))


SQL_LENGTH_GATE = """
SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_words
FROM documents
WHERE length(text) >= 100
  AND len(regexp_split_to_array(trim(text), '\\s+')) > 40
"""


def q_term_filter(spark, sf_dir):
    """F3/F4 conservative: any(include) AND NOT any(exclude)
    (identify/identify.py:135-145)."""
    return (_docs(spark, sf_dir)
            .where(filter_ops.include_exclude(
                "text", include=["spark", "window"], exclude=["slow"]))
            .select("doc_id"))


SQL_TERM_FILTER = """
SELECT doc_id FROM documents
WHERE (text LIKE '%spark%' OR text LIKE '%window%')
  AND text NOT LIKE '%slow%'
"""


def q_lang_gate(spark, sf_dir):
    """F8 (column mode): per-source counts of English docs."""
    return (_docs(spark, sf_dir).where(F.col("lang") == "en")
            .groupBy("source").agg(F.count(F.lit(1)).alias("n_en")))


SQL_LANG_GATE = """
SELECT source, count(*) AS n_en FROM documents WHERE lang = 'en' GROUP BY source
"""


# --------------------------------------------------------------------------
# sampling family (O4, O6) — md5-bucket deterministic
# --------------------------------------------------------------------------

def q_hash_sample(spark, sf_dir):
    """O4: ~10% deterministic sample via md5 hex-prefix compare."""
    return (_docs(spark, sf_dir)
            .where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
                   < "1a")
            .select("doc_id"))


SQL_HASH_SAMPLE = """
SELECT doc_id FROM documents WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '1a'
"""


def q_stratified_sample(spark, sf_dir):
    """O5: per-stratum deterministic sample (sampleBy analog, md5-bucketed
    so both engines agree row-for-row)."""
    from .operators.sampling import stratified_hash_sample
    return (stratified_hash_sample(_docs(spark, sf_dir), "doc_id", "source",
                                   {"src0": 0.5, "src1": 0.2})
            .select("doc_id", "source"))


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS b
  FROM documents)
WHERE (source = 'src0' AND b < 5000) OR (source = 'src1' AND b < 2000)
"""


def q_split_assign(spark, sf_dir):
    """O6: 90/5/5 split counts via md5 buckets (engine-portable randomSplit)."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    d = _docs(spark, sf_dir).withColumn(
        "split", F.when(h < "e6", "train").when(h < "f3", "val")
        .otherwise("test"))
    return d.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


SQL_SPLIT_ASSIGN = """
SELECT CASE WHEN substr(md5(doc_id::VARCHAR),1,2) < 'e6' THEN 'train'
            WHEN substr(md5(doc_id::VARCHAR),1,2) < 'f3' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# generic relational harness checks (J3, A6 over TPC-H-ish tables)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation. All money goes through decimal(18,4)
    sums (order-independent); averages derive from those exact sums; the
    final columns are doubles so both engines hash identically."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = "decimal(18,4)"
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    # charge stays in EXACT decimal arithmetic after the one double→decimal
    # snap per factor: decimal(18,4) disc_price × decimal(8,4) (1+tax) is an
    # exact integer multiply in both engines, so the sum is bit-identical —
    # an unstaged 3-factor double product diverges at sf0.1, and a second
    # double→decimal snap of the product lands on half-ulp ties that Spark
    # and DuckDB round differently. Mirrored exactly in the oracle SQL.
    charge = disc_price * (1 + F.col("l_tax")).cast("decimal(8,4)")
    agg = (li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(F.col("l_quantity").cast(dec)).alias("sq"),
                F.sum(F.col("l_extendedprice").cast(dec)).alias("sbp"),
                F.sum(disc_price).alias("sdp"),
                F.sum(charge).alias("sc"),
                F.sum(F.col("l_discount").cast(dec)).alias("sd"),
                F.count(F.lit(1)).alias("count_order")))
    n = F.col("count_order")
    return agg.select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("sq").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("sbp").cast("double"), 2).alias("sum_base_price"),
        F.round(F.col("sdp").cast("double"), 2).alias("sum_disc_price"),
        # round the EXACT decimal, then cast: the 2-dp result converts to
        # double exactly, so no cross-engine double-rounding boundary.
        F.round(F.col("sc"), 2).cast("double").alias("sum_charge"),
        F.round(F.col("sq").cast("double") / n, 4).alias("avg_qty"),
        F.round(F.col("sbp").cast("double") / n, 4).alias("avg_price"),
        F.round(F.col("sd").cast("double") / n, 4).alias("avg_disc"),
        "count_order")


SQL_PRICING_SUMMARY = """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sbp,
         sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS sdp,
         sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))
             * CAST(1+l_tax AS DECIMAL(8,4))) AS sc,
         sum(CAST(l_discount AS DECIMAL(18,4))) AS sd,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus,
       round(CAST(sq AS DOUBLE), 2) AS sum_qty,
       round(CAST(sbp AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sdp AS DOUBLE), 2) AS sum_disc_price,
       CAST(round(sc, 2) AS DOUBLE) AS sum_charge,
       round(CAST(sq AS DOUBLE) / count_order, 4) AS avg_qty,
       round(CAST(sbp AS DOUBLE) / count_order, 4) AS avg_price,
       round(CAST(sd AS DOUBLE) / count_order, 4) AS avg_disc,
       count_order
FROM a
"""


def q_nation_revenue(spark, sf_dir):
    """J3-style star join: revenue by supplier nation. Dimensions are
    broadcast (tiny sides never shuffle the fact table)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (li.join(F.broadcast(sup),
                    li["l_suppkey"] == sup["s_suppkey"])
            .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
            .groupBy("n_name")
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


SQL_NATION_REVENUE = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# text-analysis tier (quality, tokens, PII)
# --------------------------------------------------------------------------

# NB: doubled backslash — Spark SQL string literals un-escape '\s' to 's'
_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def q_quality_tokens(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish regex tokens per doc."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_c"),
        word_count_col("text").cast("long").alias("n_words"),
        F.size(F.expr(f"regexp_extract_all(text, '{_TOKEN_PATTERN}', 0)"))
        .cast("long").alias("n_tokens"))


SQL_QUALITY_TOKENS = r"""
SELECT doc_id, length(text) AS n_chars_c,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens
FROM documents
"""


def q_mask_numbers(spark, sf_dir):
    """D4: [FLOAT]/[INT] masking over events.props (native regexp — ASCII
    digits only, Java≡RE2; kernel variant byte-tested in pytest)."""
    return (_events(spark, sf_dir)
            .select("event_id",
                    F.regexp_replace(
                        F.regexp_replace("props", r"\d+\.\d+", "[FLOAT]"),
                        r"\d+", "[INT]").alias("props_masked")))


SQL_MASK_NUMBERS = r"""
SELECT event_id,
       regexp_replace(regexp_replace(props, '\d+\.\d+', '[FLOAT]', 'g'),
                      '\d+', '[INT]', 'g') AS props_masked
FROM events
"""


# --------------------------------------------------------------------------
# near-dup tier (n-gram Jaccard w/ oracle; MinHash/SimHash rows-only)
# --------------------------------------------------------------------------

def q_jaccard_adjacent(spark, sf_dir):
    """3-gram Jaccard for adjacent doc_id pairs (linear-cost oracle shape
    of the near-dup tier)."""
    return (dedup_ops.ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jacc")))


SQL_JACCARD_ADJACENT = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(arr) < 3 THEN [array_to_string(arr, ' ')]
              ELSE list_distinct([arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                                 for i in range(1, len(arr) - 1)])
         END AS s
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
        FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jacc
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, Jaccard-verified ≥ 0.5. Oracle: exact
    all-pairs shingle Jaccard in SQL — banding at 64 bands × 2 rows gives
    recall 1-(1-t²)^64 (≈1-1e-8 at t=0.5), so LSH+verify must equal the
    exact pair set at battery scale."""
    marked = dedup_ops.minhash_neardup(_docs(spark, sf_dir), "doc_id",
                                       "text", threshold=0.5, bands=64)
    out = marked.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jacc"))
    # DataFrame attributes do not survive .select — re-tag the operator's
    # persist handle so the bench's unpersist_input() releases the cache
    handle = getattr(marked, "_ps_persisted_input", None)
    if handle is not None:
        out._ps_persisted_input = handle
    return out


SQL_MINHASH_PAIRS = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(arr) < 3 THEN [array_to_string(arr, ' ')]
              ELSE list_distinct([arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                                 for i in range(1, len(arr) - 1)])
         END AS s
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
        FROM documents)
)
SELECT id_a, id_b, round(j, 6) AS jacc FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  -- safe prune: J <= min(|A|,|B|)/max(|A|,|B|), so a 0.5-threshold pair
  -- needs set sizes within 2x of each other
  WHERE len(a.s) * 2 >= len(b.s) AND len(b.s) * 2 >= len(a.s))
WHERE j >= 0.5
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText C1 quality signals (round 5) — all native HOF
    expressions, ORACLE-checked: the DuckDB oracle mirrors every signal
    with list functions over a token class matching Spark's Java-regex
    ``\\s`` (ASCII + vertical tab). Takes the battery slot of the old
    ``simhash`` entry (its per-doc keys now ride ``simhash_neardup`` —
    the group_sizes→group_concat merge precedent)."""
    from .operators.curate_text import gopher_quality
    return (gopher_quality(_docs_spread(spark, sf_dir))
            .select("doc_id", "n_words", "mean_word_len",
                    "symbol_word_ratio", "bullet_line_frac",
                    "ellipsis_line_frac", "alpha_word_frac",
                    "n_required_stopwords",
                    F.col("gopher_quality_pass").alias("quality_pass")))


SQL_GOPHER_QUALITY = r"""
WITH tok AS (
  -- tokenization mirrors the Spark expressions exactly: FULL-whitespace
  -- trim (Java \s = ASCII ws + vertical tab — spelled out because RE2's
  -- \s lacks \x0b), CRLF-safe lines (the \r next to the \n trims away)
  SELECT doc_id, text,
    CASE WHEN regexp_replace(lower(text),
           '^[\t\n\x0b\f\r ]+|[\t\n\x0b\f\r ]+$', '', 'g') = ''
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(
           regexp_replace(lower(text),
             '^[\t\n\x0b\f\r ]+|[\t\n\x0b\f\r ]+$', '', 'g'),
           '[\t\n\x0b\f\r ]+') END AS words,
    list_filter(
      list_transform(string_split(text, chr(10)),
        s -> regexp_replace(s,
               '^[\t\n\x0b\f\r ]+|[\t\n\x0b\f\r ]+$', '', 'g')),
      s -> length(s) > 0) AS lines
  FROM documents),
sig AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    round(CASE WHEN len(words) > 0 THEN
      list_aggregate(list_transform(words, w -> length(w)), 'sum')
        * 1.0 / len(words) ELSE 0.0 END, 6) AS mean_word_len,
    round(CASE WHEN len(words) > 0 THEN
      (len(string_split(text, '#')) - 1
       + len(string_split(text, '...')) - 1
       + len(string_split(text, '…')) - 1) * 1.0 / len(words)
      ELSE 0.0 END, 6) AS symbol_word_ratio,
    round(CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines,
                      ln -> regexp_matches(ln,
                        '^([•‣▪●⁃\-\*])[\t\n\x0b\f\r ]')))
        * 1.0 / len(lines) ELSE 0.0 END, 6) AS bullet_line_frac,
    round(CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines,
                      ln -> regexp_matches(ln, '(\.\.\.|…)$')))
        * 1.0 / len(lines) ELSE 0.0 END, 6) AS ellipsis_line_frac,
    round(CASE WHEN len(words) > 0 THEN
      len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
        * 1.0 / len(words) ELSE 0.0 END, 6) AS alpha_word_frac,
    -- stopword tokens are punctuation-stripped first (round 6), same
    -- [^a-z0-9] trim as the Spark expression; 'g' because Spark's
    -- regexp_replace is global and DuckDB's defaults to first-match
    CAST(len(list_intersect(
      list_transform(words, w -> regexp_replace(w,
        '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
      ['the','be','to','of','and','that','have','with']))
      AS BIGINT) AS n_required_stopwords
  FROM tok)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
  n_required_stopwords,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_word_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND n_required_stopwords >= 2) AS quality_pass
FROM sig
"""


def q_mint_ids(spark, sf_dir):
    """X6: per-source sequential sha1 id minting (scripts/clean.py:965-983).
    ORACLE-CHECKED since round 6: DuckDB ships no sha1, so the oracle
    implements SHA-1 itself from the FIPS 180 spec (message schedule +
    80 compression rounds as list_reduce folds over BIGINT 32-bit
    words) — exact for the ASCII ≤ 55-byte single-block messages id
    minting produces (max 7 bytes on the battery tables); hashlib
    fuzz-parity is pytest-enforced. See :func:`_mint_ids_oracle_sql`."""
    from .operators.set_ops import mint_ids
    return (mint_ids(_docs(spark, sf_dir), "source", "doc_id")
            .select("doc_id", "id"))


def _mint_ids_oracle_sql() -> str:
    """DuckDB oracle for ``mint_ids``: ``sha1(source ∥ i)`` with SHA-1
    written in SQL (FIPS 180-4, single 512-bit block):

    - pad the ASCII message to 64 bytes (0x80, zeros, 64-bit BE bit
      length) — valid for messages ≤ 55 bytes; the minted messages here
      are ``source || index`` ≤ ~10 bytes,
    - W[0..15] big-endian words, W[16..79] = rol1 of the xor taps via a
      ``list_reduce`` append fold,
    - 80 rounds folding state [a,b,c,d,e]; all 32-bit ops in BIGINT
      with explicit masks. DuckDB gives ``<<``/``>>``/``|``/``&`` ONE
      precedence level (PostgreSQL rule) — every rotate is fully
      parenthesized; fuzz-parity vs hashlib in pytest."""
    def rol(x: str, n: int) -> str:
        return f"(((({x}) << {n}) | (({x}) >> {32 - n})) & 4294967295)"
    by = ("list_transform(range(64), i -> CAST(CASE "
          "WHEN i < L THEN ord(substr(m, CAST(i + 1 AS INT), 1)) "
          "WHEN i = L THEN 128 "
          "WHEN i >= 56 THEN ((L * 8) >> CAST(8 * (63 - i) AS INT)) & 255 "
          "ELSE 0 END AS BIGINT))")
    w16 = ("list_transform(range(16), t -> "
           "(by[CAST(4*t + 1 AS INT)] * 16777216) "
           "+ (by[CAST(4*t + 2 AS INT)] * 65536) "
           "+ (by[CAST(4*t + 3 AS INT)] * 256) "
           "+ by[CAST(4*t + 4 AS INT)])")
    wx = ("xor(xor(acc[CAST(x[1] - 2 AS INT)], acc[CAST(x[1] - 7 AS INT)]),"
          " xor(acc[CAST(x[1] - 13 AS INT)], acc[CAST(x[1] - 15 AS INT)]))")
    wfull = ("list_reduce(list_prepend(w16, list_transform(range(16, 80), "
             f"t -> [CAST(t AS BIGINT)])), "
             f"(acc, x) -> list_append(acc, {rol(wx, 1)}))")
    f1 = "((s[2] & s[3]) | (xor(s[2], 4294967295) & s[4]))"
    f2 = "xor(xor(s[2], s[3]), s[4])"
    f3 = "((s[2] & s[3]) | (s[2] & s[4]) | (s[3] & s[4]))"
    fk = (f"CASE WHEN x[1] < 20 THEN ({f1}) + 1518500249 "
          f"WHEN x[1] < 40 THEN ({f2}) + 1859775393 "
          f"WHEN x[1] < 60 THEN ({f3}) + 2400959708 "
          f"ELSE ({f2}) + 3395469782 END")
    temp = (f"(({rol('s[1]', 5)} + ({fk}) + s[5] "
            "+ W[CAST(x[1] + 1 AS INT)]) & 4294967295)")
    rounds = ("list_reduce(list_prepend("
              "[CAST(1732584193 AS BIGINT), 4023233417, 2562383102, "
              "271733878, 3285377520], "
              "list_transform(range(80), t -> [CAST(t AS BIGINT)])), "
              f"(s, x) -> [{temp}, s[1], {rol('s[2]', 30)}, s[3], s[4]])")
    hexes = ("concat(" + ", ".join(
        f"printf('%08x', ({init} + fin[{i + 1}]) & 4294967295)"
        for i, init in enumerate([1732584193, 4023233417, 2562383102,
                                  271733878, 3285377520])) + ")")
    return f"""
WITH base AS (
  SELECT doc_id,
         source || CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) - 1 AS VARCHAR)
           AS m
  FROM documents),
pad AS (SELECT doc_id, {by} AS by
        FROM (SELECT doc_id, m, length(m) AS L FROM base)),
w0 AS (SELECT doc_id, {w16} AS w16 FROM pad),
wf AS (SELECT doc_id, {wfull} AS W FROM w0),
fin AS (SELECT doc_id, {rounds} AS fin FROM wf)
SELECT doc_id, {hexes} AS id FROM fin
"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash hamming-neighbor join: 4×16-bit banded self-join, verify
    hamming ≤ 3. ORACLE-CHECKED since round 6: the simhash kernel is
    seeded md5 + mod-2⁶⁴ positional mixing + per-bit majority — pure
    integer arithmetic, so the DuckDB oracle reproduces the keys
    EXACTLY (no float-order traps; see
    :func:`_simhash_neardup_oracle_sql`) and brute-forces all pairs —
    banding recall is exact by pigeonhole (max_hamming < chunks), so
    the sets must be identical. Since round 5 this entry ALSO carries
    each side's 64-bit key (the former standalone ``simhash`` entry,
    merged to free a slot — battery stays exactly 50)."""
    keys = dedup_ops.simhash_keys(_docs_spread(spark, sf_dir)) \
        .select("doc_id", "simhash")
    from pyspark.storagelevel import StorageLevel
    keys = keys.persist(StorageLevel.MEMORY_AND_DISK)
    # keep_keys (round 8): the banded self-join already carries both
    # 64-bit keys per candidate pair — emitting them from the operator
    # replaces the two key-frame re-joins this query used to do (same
    # values, two exchanges fewer). keys stays persisted: it feeds both
    # sides of the operator's self-join.
    out = dedup_ops.simhash_neardup(_docs(spark, sf_dir), "doc_id",
                                    max_hamming=3, keys_df=keys,
                                    keep_keys=True)
    # register the persist handle the way the dedup operators do, so a
    # battery invocation does not leak one cached RDD per run
    # (ADVICE r5); bench.py unpersists after materializing
    out._ps_persisted_input = keys
    return out


def _duck_md5_le64(var: str) -> str:
    """DuckDB expression for the kernel word hash
    (:func:`kernels.hashing._hash64`): little-endian uint64 of the
    first 8 md5 bytes, as HUGEINT (DuckDB UBIGINT arithmetic raises on
    overflow instead of wrapping). Shared by the simhash and
    hash-embed oracles."""
    return ("list_aggregate(list_transform(range(8), i -> "
            f"CAST(CAST(('0x' || substr(md5({var}), "
            "CAST(2*i+1 AS INT), 2)) AS UBIGINT) AS HUGEINT)"
            " * (1::HUGEINT << CAST(8*i AS INT))), 'sum')")


def _simhash_neardup_oracle_sql() -> str:
    """Generate the DuckDB oracle for ``simhash_neardup`` from the SAME
    constants as the kernel (:mod:`kernels.hashing`) — the
    ``_langid_oracle_sql`` precedent: one source of truth, no drift.

    The kernel is integer-only, so the oracle is EXACT:

    - word hash = little-endian uint64 of the first 8 md5 bytes — hex
      pairs of DuckDB ``md5()`` parsed byte-by-byte;
    - shingle hash = Σⱼ word_hash[i+j] · POS_MIX[j] mod 2⁶⁴ — the
      wraparound multiply is a 32-bit lo/hi split in HUGEINT (DuckDB's
      UBIGINT arithmetic raises on overflow instead of wrapping);
    - simhash bit j set iff 2·(count of distinct shingle hashes with
      bit j) > total — a per-bit list_filter majority;
    - pairs are BRUTE-FORCED (all doc pairs, bit_count(xor) ≤ 3): the
      Spark side's 4×16-bit banding has exact recall by pigeonhole, so
      the two sets must be identical."""
    from .kernels.hashing import _POS_MIX
    two64, two32 = 1 << 64, 1 << 32
    mix = [int(v) for v in _POS_MIX[:3]]
    le64 = _duck_md5_le64

    def mulmod(a: str, const: int) -> str:
        bh, bl = const >> 32, const & 0xFFFFFFFF
        return (f"((({a}) % {two32}) * {bl}::HUGEINT"
                f" + (((({a}) % {two32}) * {bh}::HUGEINT"
                f" + (({a}) // {two32}) * {bl}::HUGEINT)"
                f" % {two32}) * {two32}::HUGEINT)"
                f" % {two64}::HUGEINT")

    sh_sum = " + ".join(mulmod(f"h[i+{j}]", mix[j]) for j in range(3))
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents),
wh AS (
  SELECT doc_id, w, list_transform(w, x -> {le64('x')}) AS h
  FROM tok),
sh AS (
  SELECT doc_id,
    CASE WHEN len(h) = 0 THEN CAST([] AS HUGEINT[])
         WHEN len(h) < 3 THEN [{le64("array_to_string(w, ' ')")}]
         ELSE list_distinct(list_transform(range(1, len(h) - 1), i ->
            (({sh_sum}) % {two64}::HUGEINT)))
    END AS hs
  FROM wh),
sim AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN 0::HUGEINT
    ELSE list_aggregate(list_transform(range(64), j ->
        CASE WHEN 2 * len(list_filter(hs, v ->
                 (v // (1::HUGEINT << CAST(j AS INT))) % 2 = 1))
               > len(hs)
             THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END),
      'sum') END AS s
  FROM sh),
keys AS (
  SELECT doc_id,
    CAST(CASE WHEN s >= (1::HUGEINT << 63) THEN s - {two64}::HUGEINT
         ELSE s END AS BIGINT) AS s64
  FROM sim)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.s64, b.s64)) AS BIGINT) AS hamming,
  a.s64 AS simhash_a, b.s64 AS simhash_b
FROM keys a JOIN keys b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s64, b.s64)) <= 3
"""


def q_langid(spark, sf_dir):
    """F8 detector mode: deterministic stopword/n-gram langid counts. The
    detector is a NATIVE Catalyst expression (operators/clean.py
    detect_lang_expr — no Python workers), mirrored term-for-term in the
    generated DuckDB oracle; kernel-vs-native equality is pytest-enforced."""
    from .operators.clean import with_detected_lang
    return (with_detected_lang(_docs_spread(spark, sf_dir), "text")
            .groupBy("detected").agg(F.count(F.lit(1)).alias("n")))


def _langid_oracle_sql() -> str:
    """Generate the oracle from the SAME profile data and op order as the
    Spark expression — one source of truth for both engines."""
    from .kernels.langid import _PROFILES, WORD_RE
    score_cols, langs = [], sorted(_PROFILES)
    for lang in langs:
        stop, grams = _PROFILES[lang]
        stoplist = ", ".join(f"'{w}'" for w in sorted(stop))
        gram_terms = " + ".join(
            f"(length(padded) - length(replace(padded, '{g}', ''))) / {len(g)}"
            for g in grams)
        score_cols.append(
            f"CASE WHEN len(words) > 0 THEN "
            f"CAST(len(list_filter(words, w -> w IN ({stoplist}))) AS DOUBLE)"
            f" / len(words) + 0.5 * (CAST({gram_terms} AS DOUBLE)"
            f" / n_chars) * 10.0 ELSE 0.0 END AS s_{lang}")
    best_cases, runner_cases = [], []
    for lang in langs:
        others = [o for o in langs if o != lang]
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
        best_cases.append(f"WHEN {cond} THEN '{lang}'")
        runner_cases.append(
            f"WHEN {cond} THEN greatest("
            + ", ".join(f"s_{o}" for o in others) + ")")
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""
WITH w AS (
  SELECT doc_id,
         regexp_extract_all(lower(substr(text, 1, 10000)), '{WORD_RE}')
           AS words
  FROM documents),
p AS (
  SELECT doc_id, words,
         ' ' || array_to_string(words, ' ') || ' ' AS padded,
         greatest(length(' ' || array_to_string(words, ' ') || ' ') - 2, 1)
           AS n_chars
  FROM w),
s AS (SELECT doc_id, {", ".join(score_cols)} FROM p),
d AS (
  SELECT doc_id,
         CASE WHEN {best} < 0.08
                OR ({best} - (CASE {" ".join(runner_cases)} END)) < 1e-9
              THEN 'unknown'
              ELSE CASE {" ".join(best_cases)} END
         END AS detected
  FROM s)
SELECT detected, count(*) AS n FROM d GROUP BY detected
"""


def q_segment_stats(spark, sf_dir):
    r"""G1+G2 in one battery entry: sentence segmentation counts and
    token-budget chunk counts per doc.

    ORACLE-CHECKED since round 5 (VERDICT r4 #8). The DuckDB oracle
    works at the TOKEN level, which makes it exact without lookahead:
    the kernel's boundary regex ``[.!?]\s+(?=[A-Z0-9À-Ü])`` can only
    fire where a token ENDS with a terminator and the NEXT token starts
    with a capital, and its abbreviation / single-letter guard depends
    only on that boundary token — so boundaries are a ``list_filter``
    over token indices, sentence token counts are differences of
    accepted-boundary indices, and the greedy 64-token packing is a
    ``list_reduce`` fold with the (chunks, cur_tokens) state packed
    into one BIGINT. Kernel-vs-SQL equality is pytest-pinned on
    adversarial English (chained abbreviations, single-letter runs,
    digit sentence starts) plus a 500-case fuzz — no known divergence.

    Merged from the former separate ``sentences``/``token_chunks``
    entries: the driver's correctness harness records at most 50 battery
    queries (CORRECTNESS_r02 was the exact 50-entry prefix of the
    registry, silently dropping the 51st, ``clean_sentences``), so the
    battery is kept at exactly 50 with every operator still exercised."""
    from .operators.clean import chunks_udf
    return (_docs_spread(spark, sf_dir)
            .select("doc_id",
                    F.size(split_sentences_udf(F.col("text")))
                    .cast("long").alias("n_sentences"),
                    F.size(chunks_udf(64)(F.col("text")))
                    .cast("long").alias("n_chunks")))


SQL_SEGMENT_STATS = r"""
WITH seg AS (
  -- token class mirrors Python \S exactly: RE2's \s is ASCII-only, so
  -- \x0b, \x1c-\x1f, \x85 and the Unicode Z categories (NBSP, em-space,
  -- line/para separators) are added by hand — validated char-by-char
  -- against str.isspace() in the parity pytest
  SELECT doc_id,
    regexp_extract_all(text, '[^\s\x0b\x1c-\x1f\x85\p{Z}]+') AS toks
  FROM documents),
bnd AS (
  SELECT doc_id, len(toks) AS n,
    list_filter(range(1, len(toks)), i ->
      regexp_matches(toks[i], '[.!?]$')
      AND regexp_matches(toks[i + 1], '^[A-Z0-9À-Ü]')
      AND NOT (lower(regexp_replace(toks[i], '[.!?]+$', ''))
                 IN ('dr','mr','mrs','ms','prof','st','vs','etc','e.g',
                     'i.e','fig','al','no','vol','pp','ca','approx')
               OR regexp_matches(
                    lower(regexp_replace(toks[i], '[.!?]+$', '')),
                    '^\p{L}$'))) AS bs
  FROM seg),
cnt AS (
  SELECT doc_id, n, bs,
    list_transform(range(1, len(bs) + 2), j ->
      CAST(list_append(bs, n)[j] - list_prepend(0, bs)[j] AS BIGINT))
      AS ts
  FROM bnd),
folded AS (
  SELECT doc_id, n, bs,
    list_reduce(list_prepend(CAST(0 AS BIGINT), ts), (a, y) ->
      CASE WHEN y > 64 THEN
             ((a // 1000000)
              + CASE WHEN a % 1000000 > 0 THEN 1 ELSE 0 END
              + CAST(ceil(y / 64.0) AS BIGINT)) * 1000000
           WHEN a % 1000000 > 0 AND a % 1000000 + y > 64 THEN
             ((a // 1000000) + 1) * 1000000 + y
           ELSE a + y END) AS st
  FROM cnt)
SELECT doc_id,
  CAST(len(bs) + CASE WHEN n > 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_sentences,
  CAST(st // 1000000 + CASE WHEN st % 1000000 > 0 THEN 1 ELSE 0 END
    AS BIGINT) AS n_chunks
FROM folded
"""


# --------------------------------------------------------------------------
# similarity search tier
# --------------------------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return sim_ops.cosine_topk(emb, queries, k=5) \
        .withColumn("rank", F.col("rank").cast("long"))


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS cos_raw
  FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
FROM (SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the composed scale-path operator
    (banded sign-LSH bucket join → exact cosine verify) — NOT an all-pairs
    crossJoin. The oracle is exact all-pairs SQL: at 48 bands × 3 bits the
    per-pair miss probability at cosine 0.38 is ~2e-6, so LSH+verify must
    equal the exact pair set at battery scale."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 300)
    return sim_ops.embedding_neardup_lsh(emb, threshold=0.38, dim=64,
                                         n_bands=48, band_bits=3)


SQL_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.38
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with probe-all lists: must equal brute-force exactly, so the
    whole inverted-list machinery is oracle-verified; production sets
    n_probe < n_lists for the recall/cost trade."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return (sim_ops.ivf_topk(emb, queries, n_lists=8, n_probe=8, k=5)
            .withColumn("rank", F.col("rank").cast("long")))


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (the 10^12-vector tier: m-byte codes + ADC ranking)
    in probe-all configuration — pytest pins probe-all ≡ plain PQ and
    recall vs brute force; rows-only here (PQ quantization is not
    SQL-expressible). Row count is stable: k rows per query."""
    from .operators import pq as pq_ops
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 8)
    cb = pq_ops.train_pq(emb, dim=64, m=8, n_train=1000, n_iter=6)
    # centroids="first": probe-all scores every list, so the coarse
    # quantizer cannot change results (test-pinned vs plain PQ) — a
    # k-means round here was pure battery wall-time (r8: the init sort
    # job + a Lloyd round with an n_lists×dim literal codegen tree,
    # ~1.3 s of the query)
    return (pq_ops.ivfpq_topk(emb, queries, cb, k=5, n_lists=8, n_probe=8,
                              centroids="first")
            .withColumn("rank", F.col("rank").cast("long")))


def q_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN (scale path). ORACLE-CHECKED since round 6:
    the hyperplanes are deterministic blake2b constants, so the oracle
    replays the SAME algorithm (sign-bit bucket, bucket equi-join, exact
    cosine, top-k) rather than comparing against exact ANN — recall < 1
    by design is therefore not a mismatch source. Sign bits are float
    comparisons, but |dot| sits ~13 orders of magnitude above the
    summation-order error floor on real vectors (see
    :func:`_lsh_topk_oracle_sql`)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return sim_ops.lsh_topk(emb, queries, dim=64, k=5, n_planes=6)


def _lsh_topk_oracle_sql() -> str:
    """DuckDB oracle for ``lsh_topk``, generated from the operator's own
    plane constants (:func:`operators.similarity._hyperplanes` — blake2b
    seed-stable, dim=64, n_planes=6, seed=42), the
    ``_simhash_neardup_oracle_sql`` precedent: one source of truth.

    Python float ``repr`` round-trips to the identical DOUBLE, so the
    literal plane rows ARE the numpy matrix; the bucket string is the
    same '1'/'0' sign concatenation the pandas UDF emits. numpy's
    matmul may sum in a different order than ``list_dot_product``, but a
    sign flip needs |dot| below the ~1e-13 relative error floor —
    nonexistent on the test embeddings and vanishing on any real ones."""
    from .operators.similarity import _hyperplanes
    planes = _hyperplanes(64, 6, seed=42)
    rows = ",\n    ".join(
        "({}, [{}])".format(p, ", ".join(repr(float(x)) for x in row))
        for p, row in enumerate(planes))
    return f"""
WITH planes(pid, pv) AS (VALUES
    {rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
         string_agg(CASE WHEN list_dot_product(v, pv) > 0
                         THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
  FROM e CROSS JOIN planes GROUP BY vec_id, v),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
  FROM sig c JOIN (SELECT * FROM sig WHERE vec_id < 10) q
    ON c.bucket = q.bucket
  WHERE q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
FROM (SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# quality / fingerprint tier (README.md:118 stats spec; training-data ops)
# --------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
              "for", "with", "as", "by", "at", "it", "that", "this", "are",
              "was"]


def q_quality_features(spark, sf_dir):
    """Quality scoring: alpha/digit/whitespace ratios, mean word length,
    stopword ratio — all native char-class exprs (JVM, codegen)."""
    d = _docs(spark, sf_dir)
    n_chars = F.length("text").cast("double")
    n_alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    non_ws = F.length(F.regexp_replace("text", r"\s", ""))
    words = F.when(F.length(F.trim(F.col("text"))) == 0,
                   F.array().cast("array<string>")) \
        .otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    z = F.lit(0.0)
    return d.select(
        "doc_id",
        F.when(n_chars > 0, F.round(n_alpha / n_chars, 6)).otherwise(z)
        .alias("alpha_ratio"),
        F.when(n_chars > 0, F.round(n_digit / n_chars, 6)).otherwise(z)
        .alias("digit_ratio"),
        F.when(n_chars > 0, F.round((n_chars - non_ws) / n_chars, 6))
        .otherwise(z).alias("ws_ratio"),
        F.when(n_words > 0, F.round(non_ws / n_words, 6)).otherwise(z)
        .alias("mean_word_len"),
        F.when(n_words > 0, F.round(n_stop / n_words, 6)).otherwise(z)
        .alias("stop_ratio"))


_SQL_STOPLIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

SQL_QUALITY_FEATURES = rf"""
WITH b AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '\s', '', 'g')) AS non_ws,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS words
  FROM documents)
SELECT doc_id,
       CASE WHEN n_chars > 0 THEN round(n_alpha / n_chars, 6) ELSE 0.0 END AS alpha_ratio,
       CASE WHEN n_chars > 0 THEN round(n_digit / n_chars, 6) ELSE 0.0 END AS digit_ratio,
       CASE WHEN n_chars > 0 THEN round((n_chars - non_ws) / n_chars, 6) ELSE 0.0 END AS ws_ratio,
       CASE WHEN len(words) > 0 THEN round(CAST(non_ws AS DOUBLE) / len(words), 6) ELSE 0.0 END AS mean_word_len,
       CASE WHEN len(words) > 0
            THEN round(CAST(len(list_filter(words, w -> w IN ({_SQL_STOPLIST})))
                       AS DOUBLE) / len(words), 6) ELSE 0.0 END AS stop_ratio
FROM b
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-hash over word 5-gram shingles
    (deterministic content fingerprint; the single-hash core of MinHash)."""
    d = _docs(spark, sf_dir).withColumn(
        "arr", F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    fp = F.expr("""
      CASE WHEN size(arr) >= 5 THEN
        array_min(transform(sequence(1, size(arr) - 4),
                  i -> md5(concat_ws(' ', slice(arr, i, 5)))))
      ELSE md5(concat_ws(' ', arr)) END""")
    return d.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       CASE WHEN len(arr) >= 5 THEN
              list_min([md5(array_to_string(arr[i:i+4], ' '))
                        for i in range(1, len(arr) - 3)])
            ELSE md5(array_to_string(arr, ' ')) END AS fingerprint
FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
      FROM documents)
"""


def q_top_docs_per_source(spark, sf_dir):
    """O1/top-k: 3 longest docs per source (window rank, grouped top-k —
    scales as one shuffle on the group key, never a global sort)."""
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(),
                                             F.col("doc_id"))
    return (_docs(spark, sf_dir)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("source", "doc_id", "n_chars",
                    F.col("rank").cast("long").alias("rank")))


SQL_TOP_DOCS_PER_SOURCE = """
SELECT source, doc_id, n_chars, rank FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# event-stream tier: sessionization + as-of join
# --------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): per-user session and
    event counts. lag + conditional-sum windows, one shuffle on user_id.
    Gap math is interval arithmetic — exact and timezone-free on
    TIMESTAMP_NTZ in both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    is_new = (prev.isNull()
              | ((F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES"))
              ).cast("long")
    return (_events(spark, sf_dir)
            .withColumn("is_new", is_new)
            .groupBy("user_id")
            .agg(F.sum("is_new").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_SESSIONIZE = """
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id
"""


def q_asof_last_click(spark, sf_dir):
    """As-of join expressed as a running window: for every purchase, the
    user's most recent strictly-preceding click (no range self-join —
    one shuffle on user_id, linear scan per user)."""
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True).over(w)
    return (_events(spark, sf_dir)
            .withColumn("last_click_ts", last_click)
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id",
                    F.col("ts").alias("purchase_ts"), "last_click_ts"))


SQL_ASOF_LAST_CLICK = """
SELECT event_id, user_id, ts AS purchase_ts, last_click_ts
FROM (SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events)
WHERE event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# relational coverage: outer join histogram + global top-k
# --------------------------------------------------------------------------

def q_orders_per_customer(spark, sf_dir):
    """TPC-H Q13 shape: orders-per-customer histogram (left outer join +
    double aggregation)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("n_orders")))
    return per_cust.groupBy("n_orders") \
        .agg(F.count(F.lit(1)).alias("n_customers"))


SQL_ORDERS_PER_CUSTOMER = """
SELECT n_orders, count(*) AS n_customers
FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY n_orders
"""


def q_top_parts_by_revenue(spark, sf_dir):
    """Global top-10 parts by revenue: broadcast dim join + TakeOrdered
    (orderBy+limit never global-sorts; ties broken by p_partkey; ordering
    on the exact decimal sum, not the rounded double)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_partkey", "p_name")
            .agg(F.sum(rev).alias("rev_exact"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.col("rev_exact").desc(), F.col("p_partkey"))
            .limit(10)
            .select("p_partkey", "p_name",
                    F.round(F.col("rev_exact").cast("double"), 2)
                    .alias("revenue"), "n_items"))


SQL_TOP_PARTS_BY_REVENUE = """
SELECT p_partkey, p_name, round(CAST(rev_exact AS DOUBLE), 2) AS revenue,
       n_items
FROM (SELECT p_partkey, p_name,
             sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
               AS rev_exact,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_partkey, p_name)
ORDER BY rev_exact DESC, p_partkey LIMIT 10
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-table join (broadcast the filtered customer dim),
    filtered fact aggregation, top-10 by revenue — ties broken by
    (o_orderkey) on the EXACT decimal sum. (The synthetic orders table
    carries o_orderpriority in place of TPC-H's o_shippriority.)"""
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .where(F.col("c_mktsegment") == "BUILDING"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .where(F.col("l_shipdate") > F.to_timestamp(F.lit("1995-03-15")))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).alias("rev_exact"))
            .orderBy(F.col("rev_exact").desc(), F.col("o_orderkey"))
            .limit(10)
            .select("o_orderkey",
                    F.round(F.col("rev_exact").cast("double"), 2)
                    .alias("revenue"),
                    F.col("o_orderdate").cast("string").alias("o_orderdate"),
                    "o_orderpriority"))


SQL_SHIPPING_PRIORITY = """
SELECT o_orderkey, round(CAST(rev_exact AS DOUBLE), 2) AS revenue,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority
FROM (SELECT o_orderkey, o_orderdate, o_orderpriority,
             sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
               AS rev_exact
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY o_orderkey, o_orderdate, o_orderpriority)
ORDER BY rev_exact DESC, o_orderkey LIMIT 10
"""


def q_corpus_cube(spark, sf_dir):
    """CUBE aggregation over (source, lang) — full grouping-set lattice
    with subtotal markers coalesced identically on both engines."""
    return (_docs(spark, sf_dir)
            .cube("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text").cast("long")).alias("total_chars"))
            .select(F.coalesce("source", F.lit("ALL")).alias("source"),
                    F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    "n_docs", "total_chars"))


SQL_CORPUS_CUBE = """
SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE (source, lang)
"""


def q_orders_semi(spark, sf_dir):
    """Semi-join: orders having at least one high-quantity line item."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    return (orders.join(big, orders["o_orderkey"] == big["l_orderkey"],
                        "left_semi")
            .select("o_orderkey", "o_totalprice"))


SQL_ORDERS_SEMI = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
"""


def q_customers_no_orders(spark, sf_dir):
    """Anti-join: customers with no large order (non-empty at every SF)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .where(F.col("o_totalprice") > 400000)
    return (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                      "left_anti")
            .select("c_custkey", "c_mktsegment"))


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def q_click_and_purchase_users(spark, sf_dir):
    """Set op: users who both clicked and purchased (intersect)."""
    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("user_id")
    buys = e.where(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


SQL_CLICK_AND_PURCHASE = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_corpus_rollup(spark, sf_dir):
    """Rollup aggregation: doc counts by (source, lang) with subtotals;
    grouping-null markers coalesced identically on both engines."""
    return (_docs(spark, sf_dir)
            .rollup("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.coalesce("source", F.lit("ALL")).alias("source"),
                    F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    "n_docs"))


SQL_CORPUS_ROLLUP = """
SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
       count(*) AS n_docs
FROM documents GROUP BY ROLLUP (source, lang)
"""


_IDENTIFY_TERMS = ["spark", "query", "window", "join", "fast"]


def q_identify_scored(spark, sf_dir):
    """F5 shape: truncate to 256 words → deterministic term-density score →
    threshold (identify/identify.py:530-554; score_fn swaps for a model)."""
    from .operators.identify import scored_identify
    return (scored_identify(_docs(spark, sf_dir), _IDENTIFY_TERMS,
                            threshold=0.8)
            .select("doc_id", "score", "text_len"))


_IDENTIFY_HITS = " + ".join(
    f"(CASE WHEN contains(tr, '{t}') THEN 1 ELSE 0 END)"
    for t in _IDENTIFY_TERMS)

SQL_IDENTIFY_SCORED = rf"""
WITH t AS (
  SELECT doc_id, length(text) AS text_len,
         array_to_string(regexp_split_to_array(trim(text), '\s+')[1:256], ' ')
           AS tr
  FROM documents)
SELECT doc_id,
       round(CAST({_IDENTIFY_HITS} AS DOUBLE) / {len(_IDENTIFY_TERMS)}, 6)
         AS score,
       text_len
FROM t
WHERE CAST({_IDENTIFY_HITS} AS DOUBLE) / {len(_IDENTIFY_TERMS)} >= 0.8
"""


def q_session_windows(spark, sf_dir):
    """Native session_window gap sessions (batch≡streaming plan), aggregated
    per user — independently validated against the lag+cumsum SQL."""
    from .operators.sessions import session_counts
    return session_counts(_events(spark, sf_dir), gap="30 minutes")


# session_window opens a NEW session when the gap is >= the window size
# (window [ts, ts+gap) merges only on strict overlap), hence >= here.
SQL_SESSION_WINDOWS = """
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-source top-3 terms by TF-IDF (explode → word/source counts →
    source-frequency join → windowed top-k). Ties broken by term; log and
    division round at 6 dp on both engines."""
    words = (_docs(spark, sf_dir)
             .select("source",
                     F.explode(F.expr(
                         "regexp_extract_all(lower(text), '[a-z]{3,}', 0)"))
                     .alias("term")))
    tf = words.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # n_sources stays in-plan (1-row agg broadcast-crossJoined) — no
    # driver-side count() job per invocation.
    ns = (_docs(spark, sf_dir)
          .agg(F.count_distinct(F.col("source")).cast("double").alias("__ns")))
    scored = (tf.join(df_, "term")
              .crossJoin(F.broadcast(ns))
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.col("__ns") / F.col("df")), 6))
              .drop("__ns"))
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(),
                                             F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("source", "term", "tfidf",
                    F.col("rank").cast("long").alias("rank")))


SQL_TFIDF_TOP_TERMS = """
WITH words AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
  FROM documents),
tf AS (SELECT source, term, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT source) AS ns FROM documents),
scored AS (
  SELECT source, term,
         round(tf * ln(CAST(ns AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT source, term, tfidf, rank FROM (
  SELECT source, term, tfidf,
         row_number() OVER (PARTITION BY source
                            ORDER BY tfidf DESC, term) AS rank
  FROM scored) WHERE rank <= 3
"""


_BOILERPLATE_SOURCE_MAP = {
    # battery sources → real reference processors (kernels/source_rules);
    # the remaining srcN fall back to the generic default RuleSet
    "src0": "who", "src1": "cco", "src2": "icrc", "src3": "spor",
    "src4": "cdc", "src5": "drugs", "src6": "cma_pdfs", "src7": "wikidoc",
    "src8": "magic", "src9": "mayo",
}


def q_boilerplate_strip(spark, sf_dir):
    """B1/B2: per-source boilerplate rule-set dispatch over the REAL
    reference rule-sets (rows-only — the truncate state machine is a
    CPython kernel, not SQL)."""
    from .operators.boilerplate import strip_boilerplate
    return (strip_boilerplate(_docs_spread(spark, sf_dir),
                              source_map=_BOILERPLATE_SOURCE_MAP)
            .select("doc_id", F.length("clean_text").alias("clean_len"),
                    "kept"))


def q_hash_embed_topk(spark, sf_dir):
    """◇-tier embedder plumbing: hashed-BoW document vectors feeding the
    cosine top-k operator (model-swappable mapInPandas). ORACLE-CHECKED
    since round 6: the stand-in embedding is md5-bucket signed counts →
    L2 normalize → float32, every step cross-engine exact (integer
    counts sum exactly in float64 in any order; the norm is sqrt of an
    exact integer; /n and the float32 cast are single IEEE roundings)
    — see :func:`_hash_embed_topk_oracle_sql`."""
    from .operators.embed import embed_documents
    docs = _docs_spread(spark, sf_dir)
    emb = (embed_documents(docs)
           .withColumn("vec_id", F.col("id").cast("long")))
    # round 8: ``emb.where(vec_id < 5)`` cannot push below the opaque
    # mapInPandas (guide §4.1), so the query side re-embedded the WHOLE
    # corpus; filtering the 5 query docs BEFORE the embedder is the same
    # set (vec_id = cast(doc_id)) and reaches the parquet scan as a
    # pushed filter — one corpus-wide Python pass instead of two
    queries = (embed_documents(docs.where(F.col("doc_id") < 5))
               .withColumn("vec_id", F.col("id").cast("long")))
    return sim_ops.cosine_topk(emb, queries, k=3) \
        .withColumn("rank", F.col("rank").cast("long"))


def _hash_embed_topk_oracle_sql() -> str:
    """DuckDB oracle for ``hash_embed_topk``: replays
    :func:`operators.embed.embed_text` (md5-LE word hash → signed count
    per ``h % 64`` bucket → L2 normalize → FLOAT) and the brute-force
    cosine top-k. Bucket counts are exact integers in DOUBLE, so the
    only float operations are the same three IEEE roundings numpy
    performs (÷norm, float32 cast, cosine) — order-independent."""
    le64 = _duck_md5_le64
    return f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS vec_id,
         unnest(regexp_extract_all(lower(coalesce(text, '')),
                                   '[a-z0-9]+')) AS w
  FROM documents),
wh AS (SELECT vec_id, {le64('w')} AS h FROM tok),
bu AS (
  SELECT vec_id, CAST(h % 64 AS BIGINT) AS b,
         CAST(SUM(CASE WHEN h >= (1::HUGEINT << 63)
                       THEN 1 ELSE -1 END) AS DOUBLE) AS c
  FROM wh GROUP BY vec_id, b),
grid AS (
  SELECT d.vec_id, t.b
  FROM (SELECT CAST(doc_id AS BIGINT) AS vec_id FROM documents) d
  CROSS JOIN range(64) t(b)),
vecs AS (
  SELECT g.vec_id, list(coalesce(bu.c, 0.0) ORDER BY g.b) AS cv
  FROM grid g LEFT JOIN bu ON g.vec_id = bu.vec_id AND g.b = bu.b
  GROUP BY g.vec_id),
fv AS (
  SELECT vec_id,
         list_transform(cv, x -> CAST(CAST(CASE
             WHEN sqrt(list_dot_product(cv, cv)) = 0 THEN x
             ELSE x / sqrt(list_dot_product(cv, cv)) END AS FLOAT)
           AS DOUBLE)) AS v
  FROM vecs),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
  FROM fv c CROSS JOIN (SELECT * FROM fv WHERE vec_id < 5) q
  WHERE q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 3
"""


def q_clean_sentences(spark, sf_dir):
    """§3.1 Cleaner lifecycle: line-clean → gate → sentence fold →
    explode. Runs over ``events.props`` — the only table whose text
    carries the reference's ``[:;.]`` sentence delimiters.
    ORACLE-CHECKED since round 6: the C4 fold replays as a list_reduce
    with a ``[done..., pending]`` accumulator (see
    :func:`_clean_sentences_oracle_sql`; fix_encoding is identity on
    the marker-free battery text — documented there)."""
    from .operators.clean import sentences_udf_1pass
    from .operators.util import spread
    # round 8: the per-doc counts derive from the C4 fold's array
    # directly — posexplode + groupBy shuffled every assembled SENTENCE
    # string just to count it (guide §2.3: shuffle keys/metadata, not
    # payloads). Same UDF, same fold, zero shuffles; empty folds drop
    # exactly like explode-of-empty did. ``clean_corpus`` (the exploded
    # per-sentence operator used by the pipelines) is unchanged and
    # stays pytest-covered.
    d = (spread(_events(spark, sf_dir))
         .select(F.col("event_id").alias("id"),
                 sentences_udf_1pass(F.col("props")).alias("__s")))
    return (d.where(F.size("__s") > 0)
            .select("id",
                    F.size("__s").cast("long").alias("n_sentences"),
                    F.expr("aggregate(__s, 0L, (a, x) -> a + length(x))")
                    .alias("n_chars")))


def _clean_sentences_oracle_sql() -> str:
    """DuckDB oracle for ``clean_sentences``: replays the §3.1 Cleaner
    lifecycle — per-line C1+C2+C3 clean (mojibake replace chain generated
    from the kernel's own table, digit→# masking, whitespace collapse
    with the explicit Unicode class because RE2's ``\\s`` is ASCII-only)
    then the C4 stateful sentence fold as a ``list_reduce`` whose
    accumulator carries ``[done..., pending]`` (flush when the pending
    buffer gains a ``[:;.]`` delimiter or exceeds max_len; trailing
    partial dropped, like the reference's unflushed ``self.sentence``).

    One documented gap: :func:`kernels.textclean.fix_encoding`'s
    latin-1→utf-8 round-trip cannot be expressed in SQL; it is identity
    on any text without the mojibake lead bytes, which the battery
    table (ASCII JSON props) satisfies — the parity pytest covers the
    fold on adversarial multi-line inputs."""
    from .kernels.textclean import MOJIBAKE_FIXES
    moji = "x"
    for bad, good in MOJIBAKE_FIXES:
        b, g = bad.replace("'", "''"), good.replace("'", "''")
        moji = f"replace({moji}, '{b}', '{g}')"
    clean = ("regexp_replace(regexp_replace(" + moji +
             r", '[0-9]', '#', 'g'), "
             r"'[\s\x0b\x1c-\x1f\x85\p{Z}]{2,}', ' ', 'g')")
    grow = "acc[len(acc)] || x[1]"
    return f"""
WITH lines AS (
  SELECT event_id AS id,
         CASE WHEN props IS NULL THEN NULL
              ELSE str_split(props, chr(10)) END AS ls
  FROM events),
folded AS (
  SELECT id,
    CASE WHEN ls IS NULL THEN ['']
    ELSE list_reduce(
      list_prepend([''], list_transform(ls, x -> [{clean}])),
      (acc, x) -> CASE
        WHEN length(x[1]) < 1 THEN acc
        WHEN regexp_matches({grow}, '[:;.]')
             OR length({grow}) > 256000
          THEN list_append(list_append(acc[1:len(acc) - 1], {grow}), '')
        ELSE list_append(acc[1:len(acc) - 1], {grow})
      END) END AS st
  FROM lines),
sent AS (SELECT id, st[1:len(st) - 1] AS ss FROM folded)
SELECT id, CAST(len(ss) AS BIGINT) AS n_sentences,
       CAST(list_aggregate(list_transform(ss, s -> length(s)), 'sum')
            AS BIGINT) AS n_chars
FROM sent WHERE len(ss) > 0
"""


def q_translate_tagged(spark, sf_dir):
    """◇ translate shape: sentence-chunk → batch 'model' → reassemble
    (deterministic tagger stands in for the NMT model). ORACLE-CHECKED
    since round 6 — see :func:`_translate_tagged_oracle_sql`; out_len
    cast to long so the dtype matches the oracle's BIGINT."""
    from .operators.modeltier import translate_documents
    return (translate_documents(_docs_spread(spark, sf_dir), max_tokens=64)
            .select("id", F.length("translated").cast("long").alias("out_len")))


def _translate_tagged_oracle_sql() -> str:
    r"""DuckDB oracle for ``translate_tagged``: derives the reassembled
    length without materializing chunk strings. Per document,
    ``out_len = Σ chunk_chars + 10·n_chunks − 1`` (9-char tag + joiner
    space per chunk, one fencepost), and each component reduces to
    per-SENTENCE metrics over the validated token-level machinery of
    ``SQL_SEGMENT_STATS``:

    - sentence char length = token-span length: prefix sums of token
      lengths AND inter-token whitespace-run lengths (the ``lead`` flag
      aligns gap indices when the text starts with whitespace; gapless
      single-token docs take a ``[0]`` prefix array via LEFT JOIN),
    - normal chunks (≤ 64-token sentences, space-joined):
      Σ chars = Σ sentence lens + (n_normal − n_normal_chunks) — the
      inner-join spaces depend only on counts, not chunk membership,
    - hard-split long sentences: parts are single-space word joins, so
      Σ chars = Σ token lens + n_tokens − n_parts,
    - n_chunks replays the exact greedy fold from the segment oracle.

    Fuzz-parity vs ``kernels.segment.chunk_text`` reassembly in pytest
    (irregular whitespace, zero-gap docs, 100+-token hard splits)."""
    return r"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
         coalesce(text, '') AS text
  FROM documents),
seg AS (
  SELECT doc_id,
    regexp_extract_all(text, '[^\s\x0b\x1c-\x1f\x85\p{Z}]+') AS toks,
    regexp_extract_all(text, '[\s\x0b\x1c-\x1f\x85\p{Z}]+') AS gaps,
    CASE WHEN regexp_matches(text, '^[\s\x0b\x1c-\x1f\x85\p{Z}]') THEN 1 ELSE 0 END AS lead
  FROM d),
trow AS (
  SELECT doc_id, CAST(ti AS INT) AS ti,
         length(toks[CAST(ti AS INT)]) AS v
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1)) AS ti FROM seg)),
tarr AS (
  SELECT doc_id, list_prepend(CAST(0 AS BIGINT), list(pv ORDER BY ti)) AS ptl
  FROM (SELECT doc_id, ti,
               CAST(SUM(v) OVER (PARTITION BY doc_id ORDER BY ti) AS BIGINT) AS pv
        FROM trow) GROUP BY doc_id),
grow AS (
  SELECT doc_id, CAST(gi AS INT) AS gi,
         length(gaps[CAST(gi AS INT)]) AS v
  FROM (SELECT doc_id, gaps,
               unnest(range(1, len(gaps) + 1)) AS gi FROM seg)),
garr AS (
  SELECT doc_id, list_prepend(CAST(0 AS BIGINT), list(pv ORDER BY gi)) AS pgl
  FROM (SELECT doc_id, gi,
               CAST(SUM(v) OVER (PARTITION BY doc_id ORDER BY gi) AS BIGINT) AS pv
        FROM grow) GROUP BY doc_id),
bnd AS (
  SELECT doc_id, len(toks) AS n, lead,
    list_filter(range(1, len(toks)), i ->
      regexp_matches(toks[i], '[.!?]$')
      AND regexp_matches(toks[i + 1], '^[A-Z0-9À-Ü]')
      AND NOT (lower(regexp_replace(toks[i], '[.!?]+$', ''))
                 IN ('dr','mr','mrs','ms','prof','st','vs','etc','e.g','i.e','fig','al','no','vol','pp','ca','approx')
               OR regexp_matches(
                    lower(regexp_replace(toks[i], '[.!?]+$', '')),
                    '^\p{L}$'))) AS bs
  FROM seg),
srow AS (
  SELECT doc_id, CAST(si AS INT) AS si,
         CAST(list_prepend(0, bs)[CAST(si AS INT)] + 1 AS INT) AS f,
         CAST(list_append(bs, n)[CAST(si AS INT)] AS INT) AS e
  FROM (SELECT doc_id, bs, n,
               unnest(range(1, len(bs) + CASE WHEN n > 0 THEN 2 ELSE 1 END))
                 AS si
        FROM bnd)),
smet AS (
  SELECT s.doc_id, s.si, (s.e - s.f + 1) AS c,
         (t.ptl[s.e + 1] - t.ptl[s.f]) AS w,
         (t.ptl[s.e + 1] - t.ptl[s.f])
           + (coalesce(g.pgl, [CAST(0 AS BIGINT)])[s.e + b.lead]
              - coalesce(g.pgl, [CAST(0 AS BIGINT)])[s.f + b.lead]) AS l
  FROM srow s
  JOIN tarr t ON s.doc_id = t.doc_id
  LEFT JOIN garr g ON s.doc_id = g.doc_id
  JOIN bnd b ON s.doc_id = b.doc_id),
sagg AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN c <= 64 THEN l ELSE 0 END) AS BIGINT) AS sum_l_normal,
    CAST(SUM(CASE WHEN c <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_normal,
    CAST(SUM(CASE WHEN c > 64 THEN CAST(ceil(c / 64.0) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS long_parts,
    CAST(SUM(CASE WHEN c > 64 THEN w + c - CAST(ceil(c / 64.0) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS long_chars
  FROM smet GROUP BY doc_id),
tsarr AS (
  SELECT doc_id, list(CAST(e - f + 1 AS BIGINT) ORDER BY si) AS ts
  FROM srow GROUP BY doc_id),
folded AS (
  SELECT doc_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT), ts), (a, y) ->
      CASE WHEN y > 64 THEN
             ((a // 1000000)
              + CASE WHEN a % 1000000 > 0 THEN 1 ELSE 0 END
              + CAST(ceil(y / 64.0) AS BIGINT)) * 1000000
           WHEN a % 1000000 > 0 AND a % 1000000 + y > 64 THEN
             ((a // 1000000) + 1) * 1000000 + y
           ELSE a + y END) AS st
  FROM tsarr),
chunks AS (
  SELECT doc_id,
    CAST(st // 1000000 + CASE WHEN st % 1000000 > 0 THEN 1 ELSE 0 END
      AS BIGINT) AS n_chunks
  FROM folded)
SELECT d.id,
  CAST(CASE WHEN coalesce(c.n_chunks, 0) = 0 THEN 0
       ELSE a.sum_l_normal
            + (a.n_normal - (c.n_chunks - a.long_parts))
            + a.long_chars
            + 10 * c.n_chunks - 1 END AS BIGINT) AS out_len
FROM d
LEFT JOIN chunks c ON d.doc_id = c.doc_id
LEFT JOIN sagg a ON d.doc_id = a.doc_id
"""


def q_label_docs(spark, sf_dir):
    """◇ label shape: arg-max term-density labels. The deterministic tagger
    is pure Catalyst (contains + greatest-of-structs), so it carries a SQL
    oracle; ties go to the lexicographically LARGER label (struct greatest
    compares score then label) — mirrored in the SQL."""
    from .operators.modeltier import label_documents
    labels = {"engine": ["spark", "query", "join"],
              "stream": ["window", "batch", "row"]}
    return (label_documents(_docs(spark, sf_dir), labels)
            .groupBy("label").agg(F.count(F.lit(1)).alias("n")))


def _label_hits(terms):
    return " + ".join(
        f"(CASE WHEN contains(lower(text), '{t}') THEN 1 ELSE 0 END)"
        for t in terms)


SQL_LABEL_DOCS = f"""
WITH sc AS (
  SELECT ({_label_hits(["spark", "query", "join"])}) / 3.0 AS s_engine,
         ({_label_hits(["window", "batch", "row"])}) / 3.0 AS s_stream
  FROM documents)
SELECT label, count(*) AS n FROM (
  SELECT CASE WHEN s_stream >= s_engine THEN 'stream' ELSE 'engine' END
           AS label
  FROM sc)
GROUP BY label
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "exact_dedup": q_exact_dedup,
    "prefix_dedup": q_prefix_dedup,
    "events_keepfirst": q_events_keepfirst,
    "corpus_stats": q_corpus_stats,
    "vocab_stats": q_vocab_stats,
    "span_dedup": q_span_dedup,
    "group_concat": q_group_concat,   # A5+A6 merged (round 4)
    "length_gate": q_length_gate,
    "term_filter": q_term_filter,
    "lang_gate": q_lang_gate,
    "hash_sample": q_hash_sample,
    "stratified_sample": q_stratified_sample,
    "split_assign": q_split_assign,
    "pricing_summary": q_pricing_summary,
    "nation_revenue": q_nation_revenue,
    "quality_tokens": q_quality_tokens,
    "mask_numbers": q_mask_numbers,
    "jaccard_adjacent": q_jaccard_adjacent,
    "embedding_topk": q_embedding_topk,
    "quality_features": q_quality_features,
    "doc_fingerprint": q_doc_fingerprint,
    "top_docs_per_source": q_top_docs_per_source,
    "sessionize": q_sessionize,
    "asof_last_click": q_asof_last_click,
    "orders_per_customer": q_orders_per_customer,
    "top_parts_by_revenue": q_top_parts_by_revenue,
    "embedding_neardup": q_embedding_neardup,
    "ivf_topk": q_ivf_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "identify_scored": q_identify_scored,
    "session_windows": q_session_windows,
    "shipping_priority": q_shipping_priority,
    "corpus_cube": q_corpus_cube,
    "orders_semi": q_orders_semi,
    "customers_no_orders": q_customers_no_orders,
    "click_and_purchase_users": q_click_and_purchase_users,
    "corpus_rollup": q_corpus_rollup,
    "tfidf_top_terms": q_tfidf_top_terms,
    "minhash_pairs": q_minhash_pairs,
    "langid": q_langid,
    "label_docs": q_label_docs,
    "gopher_quality": q_gopher_quality,
    "simhash_neardup": q_simhash_neardup,
    "mint_ids": q_mint_ids,
    "segment_stats": q_segment_stats,
    "clean_sentences": q_clean_sentences,
    "lsh_topk": q_lsh_topk,
    "hash_embed_topk": q_hash_embed_topk,
    "translate_tagged": q_translate_tagged,
    # rows-only (the two genuinely non-SQL entries: in-query k-means
    # training / 16 imperative CPython rule-sets): the driver records a
    # weaker rows-only check, each with a named pytest backstop.
    # INVARIANT: len(QUERIES) == 50 — the driver's correctness harness
    # records at most 50 entries (see q_segment_stats docstring); adding
    # a 51st query silently drops the last one from the report.
    "boilerplate_strip": q_boilerplate_strip,
}

ORACLES = {
    "exact_dedup": SQL_EXACT_DEDUP,
    "prefix_dedup": SQL_PREFIX_DEDUP,
    "events_keepfirst": SQL_EVENTS_KEEPFIRST,
    "corpus_stats": SQL_CORPUS_STATS,
    "vocab_stats": SQL_VOCAB_STATS,
    "span_dedup": SQL_SPAN_DEDUP,
    "group_concat": SQL_GROUP_CONCAT,
    "length_gate": SQL_LENGTH_GATE,
    "term_filter": SQL_TERM_FILTER,
    "lang_gate": SQL_LANG_GATE,
    "hash_sample": SQL_HASH_SAMPLE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "split_assign": SQL_SPLIT_ASSIGN,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "nation_revenue": SQL_NATION_REVENUE,
    "quality_tokens": SQL_QUALITY_TOKENS,
    "mask_numbers": SQL_MASK_NUMBERS,
    "jaccard_adjacent": SQL_JACCARD_ADJACENT,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "quality_features": SQL_QUALITY_FEATURES,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "top_docs_per_source": SQL_TOP_DOCS_PER_SOURCE,
    "sessionize": SQL_SESSIONIZE,
    "asof_last_click": SQL_ASOF_LAST_CLICK,
    "orders_per_customer": SQL_ORDERS_PER_CUSTOMER,
    "top_parts_by_revenue": SQL_TOP_PARTS_BY_REVENUE,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "ivf_topk": SQL_EMBEDDING_TOPK,  # probe-all IVF ≡ brute force
    "identify_scored": SQL_IDENTIFY_SCORED,
    "session_windows": SQL_SESSION_WINDOWS,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "corpus_cube": SQL_CORPUS_CUBE,
    "orders_semi": SQL_ORDERS_SEMI,
    "customers_no_orders": SQL_CUSTOMERS_NO_ORDERS,
    "click_and_purchase_users": SQL_CLICK_AND_PURCHASE,
    "corpus_rollup": SQL_CORPUS_ROLLUP,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "minhash_pairs": SQL_MINHASH_PAIRS,
    "langid": _langid_oracle_sql(),
    "simhash_neardup": _simhash_neardup_oracle_sql(),
    "lsh_topk": _lsh_topk_oracle_sql(),
    "hash_embed_topk": _hash_embed_topk_oracle_sql(),
    "mint_ids": _mint_ids_oracle_sql(),
    "clean_sentences": _clean_sentences_oracle_sql(),
    "translate_tagged": _translate_tagged_oracle_sql(),
    "label_docs": SQL_LABEL_DOCS,
    "segment_stats": SQL_SEGMENT_STATS,
    "gopher_quality": SQL_GOPHER_QUALITY,
}
