"""Text-analysis operators for LLM training-data pipelines (driver mandate,
beyond the reference): token counting, quality stats, language-ID heuristic,
document fingerprinting.

Everything here is expressed with JVM built-in string functions (no Python
UDFs in the hot path), so the plans stay inside whole-stage codegen and
scale linearly with document count — at 100 TB the documents table is the
big one and these are pure map-side transforms (the only shuffles are the
final small aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quiver_spark.registry import register
from quiver_spark.tables import load, spread

# --------------------------------------------------------------------------
# Token counting / quality stats
# --------------------------------------------------------------------------


def token_count_col(c: str = "text") -> Column:
    """Whitespace token count via length arithmetic — identical semantics in
    any SQL engine (no regex dialect risk)."""
    return (
        F.length(c) - F.length(F.replace(F.col(c), F.lit(" "), F.lit(""))) + 1
    )


SQL_TOKEN_COUNT = "(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)"


@register(
    "text_quality_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_len,
       CAST(SUM({SQL_TOKEN_COUNT}) AS BIGINT) AS total_tokens,
       CAST(SUM(LENGTH(text)) AS DOUBLE) / SUM({SQL_TOKEN_COUNT}) AS chars_per_token,
       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
FROM documents
GROUP BY lang
""",
    tags=("text", "quality"),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus quality stats: doc/char/token counts, length
    distribution — the screening pass of a data-quality pipeline."""
    d = load(spark, sf_dir, "documents")
    tok = token_count_col()
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_len"),
        F.sum(tok).cast("bigint").alias("total_tokens"),
        (F.sum(F.length("text")).cast("double") / F.sum(tok)).alias(
            "chars_per_token"
        ),
        F.min(F.length("text")).cast("bigint").alias("min_len"),
        F.max(F.length("text")).cast("bigint").alias("max_len"),
    )


@register(
    "text_token_topk",
    oracle="""
SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 25
""",
    tags=("text", "explode", "topk"),
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode → count → top-k. The explode is map-side;
    only (token, partial-count) pairs shuffle — this is the scalable
    word-count shape, not a collect-and-count."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("cnt"), "token")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Language identification (n-gram / stopword heuristic)
# --------------------------------------------------------------------------

#: (language, marker stopwords) — occurrences are counted with padded
#: delimiters so partial-word hits don't count.
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of")),
    ("fr", ("le", "la", "et")),
    ("de", ("der", "die", "und")),
    ("es", ("el", "los", "que")),
    ("zh", ("的", "了", "是")),
)


def _sql_occurrence_count(marker: str) -> str:
    needle = f" {marker} "
    return (
        f"((LENGTH(' ' || text || ' ') - "
        f"LENGTH(REPLACE(' ' || text || ' ', '{needle}', ''))) / {len(needle)})"
    )


def _lang_score_sql(lang: str, markers: tuple[str, ...]) -> str:
    return " + ".join(_sql_occurrence_count(m) for m in markers)


@register(
    "text_lang_id",
    oracle=(
        "WITH scored AS (SELECT doc_id, lang, "
        + ", ".join(
            f"({_lang_score_sql(lang, markers)}) AS score_{lang}"
            for lang, markers in LANG_MARKERS
        )
        + " FROM documents)\n"
        + "SELECT lang, pred_lang, COUNT(*) AS cnt FROM (\n"
        + "  SELECT lang, CASE "
        + " ".join(
            f"WHEN score_{lang} > 0 AND "
            + " AND ".join(
                f"score_{lang} >= score_{other}"
                for other, _ in LANG_MARKERS
                if other != lang
            )
            + f" THEN '{lang}'"
            for lang, _ in LANG_MARKERS
        )
        + " ELSE 'und' END AS pred_lang FROM scored\n"
        + ") GROUP BY lang, pred_lang"
    ),
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: score each language by marker-word
    occurrences, predict the argmax (first-listed language wins ties),
    report the (actual, predicted) confusion counts.

    Round 17 (guide §4.2): the 15 marker scores ran as 15 full-string
    REPLACE passes + length arithmetic per document (interpreted JVM
    string expressions). One mapInArrow pass computes the same
    non-overlapping occurrence counts with str.count (C speed) and
    applies the identical first-listed argmax/tie rule per doc. The JVM
    scores are (len_diff)/len(needle) doubles that are exactly these
    small integer counts, so every >, >= comparison is identical; only
    (lang, pred_lang) rows leave the node into the unchanged aggregate."""
    from pyspark.sql.types import StringType, StructField, StructType

    # round 17: spread the single-split gate-SF scan across cores
    # before the Python pass (guide §2.5); per-doc output —
    # partition-invariant
    d = spread(load(spark, sf_dir, "documents"), spark, sf_dir, "documents")
    src = d.select("lang", "text")
    _schema = StructType(
        [src.schema.fields[0], StructField("pred_lang", StringType(), False)]
    )
    _markers = LANG_MARKERS

    def _fn(batches):
        import pyarrow as pa

        needles = [
            (lang, tuple(f" {m} " for m in ms)) for lang, ms in _markers
        ]
        nl = len(needles)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            preds = []
            for t in texts:
                padded = " " + t + " "
                scores = [
                    sum(padded.count(nd) for nd in nds)
                    for _lang, nds in needles
                ]
                pred = "und"
                for j in range(nl):
                    sj = scores[j]
                    if sj > 0 and all(
                        sj >= scores[o] for o in range(nl) if o != j
                    ):
                        pred = needles[j][0]
                        break
                preds.append(pred)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(preds, type=pa.string())],
                names=["lang", "pred_lang"],
            )

    return (
        src.mapInArrow(_fn, _schema)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# Fingerprinting
# --------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle="""
SELECT SUBSTR(md5(text), 1, 16) AS fp,
       COUNT(*) AS cnt,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM documents
GROUP BY 1
""",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit content fingerprint (md5 prefix) per document — the exact-dup
    key used by dedup_exact_docs. md5 hex is engine-portable."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 16).alias("fp")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


#: BPE-ish pre-tokenizer regex (GPT-style digit/punct splitting, letter
#: runs) — only constructs with identical Java-regex / RE2 semantics, so
#: Spark and DuckDB tokenize bit-identically
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "text_token_bpe",
    oracle=f"""
SELECT lang,
       COUNT(*) AS docs,
       CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
           AS total_bpe_tokens,
       CAST(SUM({SQL_TOKEN_COUNT}) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS DOUBLE)
           / SUM({SQL_TOKEN_COUNT}) AS bpe_per_ws
FROM documents
GROUP BY lang
""",
    tags=("text", "tokens"),
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token accounting: a BPE-ish pre-tokenizer regex
    (letter runs, single digits, single punctuation — the GPT pre-tokenizer
    shape) counted per document and aggregated per language, alongside the
    whitespace token count. bpe_per_ws is the fertility proxy a training
    pipeline uses for budgeting tokens per corpus slice. Pure map-side
    regex + one aggregation — all JVM built-ins, no UDF."""
    d = load(spark, sf_dir, "documents")
    bpe = F.expr(f"size(regexp_extract_all(text, '{BPE_PATTERN}', 0))")
    ws = token_count_col()
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(bpe).cast("bigint").alias("total_bpe_tokens"),
        F.sum(ws).cast("bigint").alias("total_ws_tokens"),
        (F.sum(bpe).cast("double") / F.sum(ws)).alias("bpe_per_ws"),
    )


#: per-language keep rate (per-mille) for the stratified sampler — the
#: rebalancing shape of a corpus-mixing pipeline: downsample the dominant
#: language harder than the tail
SAMPLE_RATE_PERMILLE = {"en": 250}
SAMPLE_DEFAULT_PERMILLE = 500


@register(
    "sample_stratified_docs",
    oracle=f"""
WITH gated AS (
    SELECT lang,
           CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS gate,
           CASE WHEN lang = 'en' THEN {SAMPLE_RATE_PERMILLE['en']}
                ELSE {SAMPLE_DEFAULT_PERMILLE} END AS keep_permille
    FROM documents
)
SELECT lang,
       COUNT(*) AS total_docs,
       CAST(SUM(CASE WHEN gate < keep_permille THEN 1 ELSE 0 END) AS BIGINT)
           AS sampled_docs,
       CAST(SUM(CASE WHEN gate < keep_permille THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS achieved_rate
FROM gated
GROUP BY lang
""",
    tags=("sampling", "pipeline"),
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: each document passes a stable
    md5(doc_id) hash gate with a per-language keep rate (dominant language
    downsampled harder) — the corpus-rebalancing step of a training-data
    mix, reproducible across engines, reruns, and reshards because the
    gate depends only on the row key. Pure map-side filter + one
    aggregation; at 100 TB the sample never shuffles, only the per-slice
    accounting does. Identical hash arithmetic both engines:
    conv(substr(md5, 1, 8), 16, 10) == CAST('0x'-prefixed hex AS BIGINT)."""
    d = load(spark, sf_dir, "documents")
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    keep = (
        F.when(F.col("lang") == "en", F.lit(SAMPLE_RATE_PERMILLE["en"]))
        .otherwise(F.lit(SAMPLE_DEFAULT_PERMILLE))
    )
    sampled = F.sum(F.when(gate < keep, 1).otherwise(0))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        sampled.cast("bigint").alias("sampled_docs"),
        (sampled.cast("double") / F.count(F.lit(1))).alias("achieved_rate"),
    )
