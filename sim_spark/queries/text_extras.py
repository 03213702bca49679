"""Text-analysis extras for the LLM-data surface (driver mandate):
language-ID heuristic, quality scoring, token counting, document
fingerprinting, SimHash near-dup — plus the multimodal binary-features
query riding the ops.multimodal plumbing.

All are single-pass projections/aggregations over documents; the only
shuffles are the final small group-bys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sim_spark.exprs import h48
from sim_spark.io import table
from sim_spark.ops.bandlsh import banded_dedup_oracle
from sim_spark.ops.multimodal import binary_features
from sim_spark.registry import query

# Marker-word profiles for the n-gram/keyword language-ID heuristic.
# Deterministic and engine-portable (plain IN-list membership counts);
# with the synthetic corpus the scores are what they are — the point is
# the operator shape, scored identically in both engines.
_LANG_MARKERS = {
    "en": ("table", "row", "value", "fast"),
    "de": ("hash", "merge", "batch", "scan"),
    "es": ("part", "key", "agg", "slow"),
}


@query(
    "text_lang_id",
    oracle=f"""
WITH tokens AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS word FROM documents
),
scores AS (
  SELECT doc_id, lang,
         CAST(SUM(CASE WHEN word IN {str(_LANG_MARKERS['en'])} THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
         CAST(SUM(CASE WHEN word IN {str(_LANG_MARKERS['de'])} THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
         CAST(SUM(CASE WHEN word IN {str(_LANG_MARKERS['es'])} THEN 1 ELSE 0 END) AS BIGINT) AS s_es
  FROM tokens GROUP BY doc_id, lang
)
SELECT doc_id, lang AS labeled_lang, s_en, s_de, s_es,
       CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_es THEN 'de'
            ELSE 'es' END AS predicted_lang
FROM scores
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-profile language ID: count marker-word hits per language
    profile, predict the argmax (fixed precedence tie-break)."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")

    def score(markers: tuple[str, ...]):
        return F.size(F.filter(words, lambda w: w.isin(*markers))).cast("bigint")

    s = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        score(_LANG_MARKERS["en"]).alias("s_en"),
        score(_LANG_MARKERS["de"]).alias("s_de"),
        score(_LANG_MARKERS["es"]).alias("s_es"),
    )
    return s.withColumn(
        "predicted_lang",
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")), "en")
        .when(F.col("s_de") >= F.col("s_es"), "de")
        .otherwise("es"),
    )


@query(
    "text_quality_score",
    oracle="""
SELECT doc_id,
       n_chars,
       len(str_split(text, ' ')) AS n_words,
       ROUND(CAST(n_chars AS DOUBLE) / len(str_split(text, ' ')), 6) AS avg_word_len,
       ROUND(CAST(len(list_filter(str_split(text, ' '),
             w -> w IN ('a', 'the', 'of', 'to', 'and'))) AS DOUBLE)
             / len(str_split(text, ' ')), 6) AS stopword_ratio,
       CASE WHEN n_chars BETWEEN 50 AND 450
             AND len(str_split(text, ' ')) >= 10 THEN 1 ELSE 0 END AS passes_filter
FROM documents
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length, mean word length, stopword ratio, and
    a composite keep/drop flag — the standard pre-training corpus filter
    shape."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    stop = F.size(F.filter(words, lambda w: w.isin("a", "the", "of", "to", "and")))
    return d.select(
        "doc_id",
        "n_chars",
        n_words.cast("bigint").alias("n_words"),
        F.round(F.col("n_chars").cast("double") / n_words, 6).alias("avg_word_len"),
        F.round(stop.cast("double") / n_words, 6).alias("stopword_ratio"),
        F.when((F.col("n_chars").between(50, 450)) & (n_words >= 10), 1)
        .otherwise(0)
        .alias("passes_filter"),
    )


@query(
    "text_token_count",
    oracle="""
SELECT doc_id,
       len(str_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens,
       length(text) AS n_bytes
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single other chars) — the cheap token
    estimator used for corpus sizing."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).cast("bigint").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").cast("bigint").alias("n_bytes"),
    )


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))
         AS bag_fingerprint,
       md5(text) AS exact_fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (md5 of text) and bag-of-words (md5 of
    the sorted distinct vocabulary — catches word-order shuffles, the
    cheap canonical form before heavier near-dup machinery)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ")).alias(
            "bag_fingerprint"
        ),
        F.md5("text").alias("exact_fingerprint"),
    )


# --- SimHash ----------------------------------------------------------------
#
# 32-bit SimHash from word md5s: hex digit j of md5(word) contributes its 4
# bits to positions 4j..4j+3; per position, sum (+1 if bit set else -1) over
# distinct words; fingerprint bit = 1 iff the sum is positive. Everything is
# integer arithmetic on md5 hex — bit-identical across engines.

_SIMHASH_BITS = 32


def _spark_simhash_df(d: DataFrame) -> DataFrame:
    """SimHash via explode → one md5 per word → 32 SUM votes → fingerprint.

    Columnar reformulation (not 32 aggregate() HOFs over the word array:
    that re-hashed every word once per bit — 32 md5s per word — and ran
    10× slower on the bench). Here each distinct word is hashed once, its
    8 hex digits decoded once, and the per-bit votes are 32 plain SUM
    aggregates — partial-aggregated map-side like any other groupBy."""
    tokens = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )
    # All per-bit expressions are SQL strings (F.expr): the Column-API
    # loops issued thousands of py4j round-trips of pure driver wall per
    # query build (r14 cProfile, OPTIMIZATION_r14.md item 5). The
    # parsed trees are identical — same CaseWhen/Cast/BitwiseAnd nodes.
    hexed = tokens.withColumn("h8", F.substring(F.md5("word"), 1, 8))
    digits = hexed.select(
        "doc_id",
        *[
            F.expr(f"CAST(CONV(SUBSTRING(h8, {j + 1}, 1), 16, 10) AS INT) AS d{j}")
            for j in range(8)
        ],
    )
    votes = [
        F.expr(
            f"SUM(CASE WHEN (d{b // 4} & {1 << (3 - b % 4)}) > 0"
            f" THEN 1 ELSE -1 END) AS v{b}"
        )
        for b in range(_SIMHASH_BITS)
    ]
    voted = digits.groupBy("doc_id").agg(*votes)
    fp = "CAST(0 AS BIGINT) + " + " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return voted.select("doc_id", F.expr(f"{fp} AS simhash"))


_SIMHASH_ORACLE_VOTES = ",\n         ".join(
    "CAST(SUM(CASE WHEN (strpos('0123456789abcdef', "
    f"substring(md5(word), {b // 4 + 1}, 1)) - 1) & {1 << (3 - b % 4)} > 0 "
    f"THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_ORACLE_SUM = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
WITH tokens AS (
  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS word FROM documents
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_ORACLE_VOTES}
  FROM tokens GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_ORACLE_SUM} AS BIGINT) AS simhash
FROM votes
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over the distinct word set — near-dup
    docs land at small hamming distance. Computed entirely in integer
    expressions (no Python): explode → hash once per word → 32 summed
    votes; pairing happens in dedup_simhash_pairs."""
    d = table(spark, sf_dir, "documents")
    return _spark_simhash_df(d)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
WITH tokens AS (
  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS word FROM documents
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_ORACLE_VOTES}
  FROM tokens GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST({_SIMHASH_ORACLE_SUM} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: hamming(simhash_a, simhash_b) ≤ 5, via
    a banded EQUI-join (no quadratic scan): the 32 bits split into 6
    bands (6,6,5,5,5,5 bits). Pigeonhole: ≤5 differing bits touch at
    most 5 of the 6 bands, so every qualifying pair agrees on ≥1 whole
    band — an equi-join on (band_no, band_val) produces a candidate
    superset, refined by the exact bit_count(xor) ≤ 5 predicate. Same
    rows as the all-pairs formulation (the oracle is the all-pairs SQL);
    at 100 TB the band join shuffles on short keys instead of scanning
    n² fingerprint pairs.

    Scale note (r9 sf1 sweep, SCALE.md §20): on THIS fixture the output
    itself is dense — a 30-word vocabulary collapses 50k docs onto 21k
    distinct 32-bit hashes (largest equal-hash class 4,494 docs), so
    the exact hd≤5 pair list is 418.5M rows at sf1 (3.9M at sf0.1):
    the 29× wall at 10× docs is 107× OUTPUT at improving per-row
    throughput, not candidate waste. A real corpus's vocabulary
    diversity (and a 64/128-bit simhash) makes the same plan sparse.
    The signature frame is track_cache'd — both join sides would
    otherwise recompute the full text→simhash pipeline."""
    from sim_spark.scratch import track_cache

    fp = track_cache(dedup_simhash(spark, sf_dir))
    bands, off = [], 0
    for i, width in enumerate((6, 6, 5, 5, 5, 5)):
        bands.append(
            F.struct(
                F.lit(i).alias("bno"),
                F.shiftright("simhash", off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bval"),
            )
        )
        off += width
    banded = fp.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "simhash", "b.bno", "b.bval")
    from sim_spark.ops.setsim import check_candidate_density

    check_candidate_density(
        banded,
        ["bno", "bval"],
        what="dedup_simhash_pairs",
        twins="dedup_simhash / dedup_simhash64_tf (banded output ∝ true dups)",
    )
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"), "bno", "bval"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"), "bno", "bval"
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        a.join(b, ["bno", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 5)
        .distinct()  # a pair may collide in several bands
    )


# --- 64-bit TF-weighted SimHash (r9): the production-sparse variant ---------
#
# The 32-bit distinct-word key above is intrinsically dense on this
# fixture (SCALE.md §20: 418M exact pairs at sf1). This is the variant a
# production pipeline runs: 64 bits from md5 digits 0..15, votes
# WEIGHTED by per-doc term frequency (Charikar's original formulation),
# so fingerprints depend on the full count vector, not the word set —
# near-identical docs stay at tiny Hamming distance while the corpus
# spreads out. Banding is the shared ops/bandlsh.py scaffold: 4×16-bit
# bands (pigeonhole: hd≤3 pairs agree on ≥1 whole band), saturation
# cap, in-row bit_count refine, canonical smaller-id report.

_SH64_BITS = 64


def _sh64_votes_sql() -> str:
    return ",\n         ".join(
        "CAST(SUM(CASE WHEN (strpos('0123456789abcdef', "
        f"substring(md5(word), {b // 4 + 1}, 1)) - 1) & {1 << (3 - b % 4)} > 0 "
        f"THEN cnt ELSE -cnt END) AS BIGINT) AS v{b}"
        for b in range(_SH64_BITS)
    )


def _sh64_band_sql(k: int) -> str:
    return " + ".join(
        f"(CASE WHEN v{16 * k + i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(16)
    )


_SH64_SIG_CTES = f"""tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
  GROUP BY doc_id, word
),
votes AS (
  SELECT doc_id,
         {_sh64_votes_sql()}
  FROM tf GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         CAST({_sh64_band_sql(0)} AS BIGINT) AS b0,
         CAST({_sh64_band_sql(1)} AS BIGINT) AS b1,
         CAST({_sh64_band_sql(2)} AS BIGINT) AS b2,
         CAST({_sh64_band_sql(3)} AS BIGINT) AS b3
  FROM votes
)"""


@query(
    "dedup_simhash64_tf",
    oracle=banded_dedup_oracle(_SH64_SIG_CTES, hd_max=3),
)
def dedup_simhash64_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit TF-weighted SimHash near-dup dedup — the production-shaped
    complement to `dedup_simhash_pairs` (whose 32-bit distinct-word
    hash is intrinsically dense on this fixture — SCALE.md §20). Votes
    are weighted by per-doc term frequency, so the fingerprint encodes
    the count vector: near-identical docs differ in a few low-weight
    positions (small Hamming distance) while unrelated docs spread
    across the 64-bit space, keeping the pair list sparse at any scale.
    Candidates come from the shared banded-LSH scaffold
    (ops/bandlsh.py: 4×16-bit bands, pigeonhole-complete for the hd≤3
    refine, saturation cap, exact in-row bit_count(xor) refine) and
    the output is the canonical smaller-id dedup report — rows ∝ true
    near-dups, never ∝ n². Fully hash-oracled: DuckDB recomputes every
    vote from md5 hex digits."""
    from sim_spark.ops.bandlsh import banded_dedup

    return banded_dedup(simhash64_sig(spark, sf_dir), hd_max=3)


def simhash64_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TF-weighted 64-bit simhash signature frame (doc_id, b0..b3) —
    exposed so the band_recall diagnostic (tests/test_scale_ops.py,
    SCALE.md §21) can measure the capped generator's recall."""
    from sim_spark.ops.spread import spread
    from sim_spark.scratch import track_cache

    d = table(spark, sf_dir, "documents")
    # r15: the explode + token-count partial aggregation ran in the ONE
    # task of the unsplittable fixture scan (timeline: two sequential
    # 1-task stages, ~1.5 s of the key's cold wall) — the same serial
    # pre-Exchange disease item 11/r14 fixed on jaccard/winnowing.
    # spread() round-robins the narrow (doc_id, text) frame across the
    # task slots iff the layout under-parallelizes; no-op on a
    # well-split input.
    tf = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # The md5 + 16-digit + 64-vote projection below is CPU-heavy per
    # (doc, word) row, but AQE coalesces the tf exchange read to ONE
    # partition by BYTES (timeline: a single-task 752 ms stage) — so
    # pin the layout to doc_id across the session's shuffle parallelism:
    # the projection runs wide and the votes aggregate reuses the
    # partitioning (no extra exchange for it).
    n_shuffle = int(tf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tf = tf.repartition(n_shuffle, "doc_id")
    # SQL-string expressions for the same reason as _spark_simhash_df:
    # the 16-digit + 64-vote + 4-band Column-API loops cost ~2.9 s of
    # py4j round-trips per build (r14 cProfile), identical parsed trees.
    hexed = tf.withColumn("h16", F.substring(F.md5("word"), 1, 16))
    digits = hexed.select(
        "doc_id",
        "cnt",
        *[
            F.expr(f"CAST(CONV(SUBSTRING(h16, {j + 1}, 1), 16, 10) AS INT) AS d{j}")
            for j in range(16)
        ],
    )
    votes = [
        F.expr(
            f"SUM(CASE WHEN (d{b // 4} & {1 << (3 - b % 4)}) > 0"
            f" THEN cnt ELSE -cnt END) AS v{b}"
        )
        for b in range(_SH64_BITS)
    ]
    voted = digits.groupBy("doc_id").agg(*votes)
    bands = [
        F.expr(
            "CAST(0 AS BIGINT) + "
            + " + ".join(
                f"(CASE WHEN v{16 * k + i} > 0 THEN CAST({1 << i} AS BIGINT)"
                f" ELSE 0 END)"
                for i in range(16)
            )
            + f" AS b{k}"
        )
        for k in range(4)
    ]
    return track_cache(voted.select("doc_id", *bands))


# --- multimodal binary features ---------------------------------------------


@query(
    "multimodal_binary_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
       hex(substring(text, 1, 8)) AS head_hex,
       CAST(ceil(octet_length(CAST(text AS BLOB)) / 4096.0) AS BIGINT) AS n_chunks
FROM documents
""",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction over a REAL ``binaryFile``
    directory source: documents' text encoded to opaque per-doc payload
    files (executor-side write, the stand-in for an image/audio landing
    zone — fixture text is pure ASCII so byte_len ≡ n_chars), read back
    with ``spark.read.format("binaryFile")`` (path/length/content
    columns), doc_id recovered from the file path, then per-batch
    metadata extraction via the ops.multimodal mapInPandas plumbing.
    The decode step itself is a clearly-marked stub (ops/multimodal.py).
    Per-sf payload dirs so different scale factors never cross-read."""

    from sim_spark.ops.multimodal import write_payload_dir
    from sim_spark.scratch import scratch_dir, sf_tag as scratch_sf_tag

    d = table(spark, sf_dir, "documents")
    sf_tag = scratch_sf_tag(sf_dir)
    payload_root = scratch_dir(f"binary_payloads_{sf_tag}")
    write_payload_dir(
        d.select("doc_id", F.encode("text", "utf-8").alias("payload")), payload_root
    )
    payloads = (
        spark.read.format("binaryFile")
        .load(payload_root)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return binary_features(payloads)


@query(
    "multimodal_frame_sample",
    oracle="""
SELECT d.doc_id, f.f AS frame_no,
       upper(hex(CAST(substring(d.text, CAST(f.f * 64 + 1 AS BIGINT), 8) AS BLOB))) AS frame_sig
FROM documents d,
     LATERAL (SELECT unnest(range(0, CAST(ceil(octet_length(CAST(d.text AS BLOB)) / 64.0) AS BIGINT), 2)) AS f) f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped 1→N frame sampling via mapInPandas (every 2nd
    64-byte 'frame', signature = hex of its 8 head bytes): the fan-out
    batch shape a real frame extractor runs in — the decode itself stays
    the ops.multimodal stub. ASCII fixture text ⇒ byte offsets ≡ char
    offsets, which is what lets the oracle mirror it with substring."""
    from sim_spark.ops.multimodal import frame_sample

    d = table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return frame_sample(payloads)


@query(
    "multimodal_resize_meta",
    oracle="""
WITH dims AS (
  SELECT doc_id, 64 + (n_chars % 512) AS width, 64 + ((n_chars * 7) % 512) AS height
  FROM documents
)
SELECT doc_id, width, height,
       CAST(FLOOR(width  * LEAST(1.0, 224.0 / GREATEST(width, height)) + 0.5) AS BIGINT) AS out_w,
       CAST(FLOOR(height * LEAST(1.0, 224.0 / GREATEST(width, height)) + 0.5) AS BIGINT) AS out_h
FROM dims
""",
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: deterministic fake (width, height) derived
    from n_chars, then fit-within-224 scaling as an Arrow-vectorized
    pandas UDF (ops.multimodal.resize_dims) — whole-column numpy math,
    the slot a real pixel kernel drops into."""
    from sim_spark.ops.multimodal import resize_dims

    d = table(spark, sf_dir, "documents")
    dims = d.select(
        "doc_id",
        (64 + F.col("n_chars") % 512).alias("width"),
        (64 + (F.col("n_chars") * 7) % 512).alias("height"),
    )
    return resize_dims(dims)


@query(
    "text_fuzzy_levenshtein",
    oracle="""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30)) AS edit_dist
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 3
WHERE levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30)) <= 22
""",
)
def text_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching on 30-char prefixes over a banded
    candidate set (same lang, id-distance ≤ 3; ≤22 keeps the bottom
    quartile of the fixture's 14-29 distance range — levenshtein is
    O(n·m) per pair, so real pipelines ALWAYS pre-band it behind a
    cheap blocking key; the id band is this fixture's stand-in for
    one). Spark and DuckDB agree on unit-cost Levenshtein semantics.

    r9 scale fix (sf1 sweep): the naive join's only EQUI key was
    `lang` — a handful of values — so the id band ran as a POST-join
    filter and every same-lang pair paid a 30x30 Levenshtein:
    measured 50 s at sf0.1 (~3M distance calls), quadratic at sf1.
    The id band is a small integer range, so each left doc enumerates
    its three partner ids (``explode(sequence(id_a + 1, id_a + 3))``)
    and the join hashes on (lang, id_b): exact, no refine step, and the
    distance runs only on true band pairs."""
    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("id_a"), "lang",
        F.substring("text", 1, 30).alias("pref_a"),
    ).withColumn("id_b", F.explode(F.sequence(F.col("id_a") + 1, F.col("id_a") + 3)))
    b = d.select(F.col("doc_id").alias("id_b"), "lang",
                 F.substring("text", 1, 30).alias("pref_b"))
    dist = F.levenshtein("pref_a", "pref_b")
    joined = a.join(b, ["lang", "id_b"])
    return (
        joined.filter(dist <= 22)
        .select("id_a", "id_b", dist.alias("edit_dist"))
    )


@query(
    "text_boilerplate_topk_filter",
    oracle="""
WITH tokens AS (
  SELECT unnest(str_split(text, ' ')) AS word FROM documents
),
tf AS (SELECT word, COUNT(*) AS tf FROM tokens GROUP BY word),
top AS (SELECT word FROM tf ORDER BY tf DESC, word ASC LIMIT 10),
stop AS (SELECT COALESCE(list(word ORDER BY word), []) AS stop_arr FROM top)
SELECT doc_id,
       COALESCE(array_to_string(
         list_filter(str_split(text, ' '), w -> NOT list_contains(stop_arr, w)),
         ' '), '') AS clean_text,
       CAST(len(str_split(text, ' '))
            - len(list_filter(str_split(text, ' '),
                              w -> NOT list_contains(stop_arr, w))) AS BIGINT)
         AS n_removed
FROM documents, stop
""",
)
def text_boilerplate_topk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven boilerplate removal (the C4/CCNet-style cleaning
    step): the k=10 highest corpus-frequency words are boilerplate;
    strip them from every document IN ORDER (array filter HOF —
    order-preserving, no explode/reassemble shuffle). The derived
    stoplist is intrinsically tiny (k rows), so it rides a 1-row
    broadcast into the HOF — corpus-sized data never reshuffles and
    nothing touches the driver. Deterministic: (tf DESC, word ASC)
    tie-break + sorted stoplist. (A DF>threshold variant is the same
    plan; on this fixture's 31-word vocabulary any DF cut is
    degenerate — nearly every word is near-universal — so the top-k
    form is the non-vacuous one.)"""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    top = tf.orderBy(F.desc("tf"), F.asc("word")).limit(10)
    stop_arr = top.agg(F.array_sort(F.collect_list("word")).alias("stop_arr"))
    toks = F.split("text", " ")
    kept = F.filter(toks, lambda w: ~F.array_contains(F.col("stop_arr"), w))
    return d.crossJoin(F.broadcast(stop_arr)).select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("bigint").alias("n_removed"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       len(ws) AS n_words,
       len(list_distinct(ws)) AS n_distinct,
       ROUND(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS distinct_ratio,
       ROUND(CAST(list_max(list_transform(list_distinct(ws),
                x -> len(list_filter(ws, y -> y = x)))) AS DOUBLE) / len(ws), 6)
         AS top_word_frac
FROM w
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word ratio
    and the corpus-frequency share of the single most repeated word —
    the filters that drop keyword-stuffed / looping generations from a
    training corpus. Entirely array HOFs over the in-row token list
    (distinct is O(n), top-frequency O(distinct x n) with ~30-word
    docs): a narrow map, no shuffle, no Python."""
    d = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    nd = F.size(F.array_distinct(ws))
    top = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda x: F.size(F.filter(ws, lambda y: y == x)),
        )
    )
    return d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_words"),
        nd.cast("bigint").alias("n_distinct"),
        F.round(nd.cast("double") / F.size(ws), 6).alias("distinct_ratio"),
        F.round(top.cast("double") / F.size(ws), 6).alias("top_word_frac"),
    )


@query(
    "text_entropy_score",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (SELECT doc_id, len(ws) AS n,
        list_transform(list_sort(list_distinct(ws)),
                       x -> len(list_filter(ws, y -> y = x))) AS cnts
      FROM w)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       CAST((-CAST(list_sum(list_transform(cnts,
               c -> CAST(floor((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                               * 1000000000 + 0.5) AS BIGINT))) AS BIGINT)
             + 500) // 1000 AS DOUBLE) / 1000000 AS entropy_nats,
       1.0 - CAST((CAST(list_sum(list_transform(cnts,
               c -> CAST(floor((CAST(c AS DOUBLE) / n) * (CAST(c AS DOUBLE) / n)
                               * 1000000000 + 0.5) AS BIGINT))) AS BIGINT)
             + 500) // 1000 AS DOUBLE) / 1000000 AS gini_diversity
FROM c
""",
)
def text_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: Shannon entropy (nats) and
    Gini-Simpson diversity of each document's word distribution — low
    entropy flags degenerate/looping text a curation pass drops.

    Each term is snapped to integer nano-units (floor(term·1e9 + 0.5))
    BEFORE summing: the terms themselves are IEEE-identical in both
    engines, but DuckDB's list_sum is not guaranteed strictly
    left-to-right, and at sf0.1 one document of 5000 landed a
    sum-order-dependent ulp exactly on a 6dp rounding boundary (gini
    0.958437 vs 0.958438 — found by the round-5 stress sweep). Integer
    sums are associative, so summation order can never matter again;
    the 1e-9 quantization is three digits below the displayed 6dp.
    Pure array HOFs over the in-row token list: narrow map, no shuffle,
    no Python — scales as a single scan."""
    d = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n = F.size(ws)
    cnts = F.transform(
        F.array_sort(F.array_distinct(ws)),
        lambda x: F.size(F.filter(ws, lambda y: y == x)),
    )
    p = lambda c: c.cast("double") / n  # noqa: E731
    nano = lambda term: F.floor(term * 1000000000 + 0.5).cast("long")  # noqa: E731
    # Final rounding happens in INTEGER space ((x + 500) div 1000 on the
    # non-negative nano sum): ROUND(float) after quantization would land
    # exactly on 6dp half-boundaries ~1e-3 of the time, where Spark's and
    # DuckDB's float ROUND disagree on ~2% of cases (measured).
    ent = F.aggregate(
        cnts,
        F.lit(0).cast("long"),
        lambda acc, c: acc + nano(p(c) * F.log(p(c))),
    )
    gini = F.aggregate(
        cnts, F.lit(0).cast("long"), lambda acc, c: acc + nano(p(c) * p(c))
    )
    micro = lambda pos_nano: ((pos_nano + 500) / 1000).cast("long")  # noqa: E731
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        (micro(-ent).cast("double") / 1000000).alias("entropy_nats"),
        (F.lit(1.0) - micro(gini).cast("double") / 1000000).alias("gini_diversity"),
    )


@query(
    "dedup_containment_pairs",
    oracle="""
WITH g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i, i + 2), ' ') AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS i
        FROM documents)
),
df AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= 50),
gf AS (SELECT g.doc_id, g.gram FROM g JOIN df USING (gram)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM gf GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM gf a JOIN gf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM shared JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C(A,B) = |grams(A) ∩ grams(B)| /
    min(|A|,|B|) over distinct word 3-grams — the asymmetric measure
    that catches a document EMBEDDED in a larger one, where Jaccard
    dilutes below threshold. Skew control: grams occurring in > 50
    documents (boilerplate) are dropped BEFORE the gram self-join, so
    no shuffle key fans out quadratically — the same df-cap trick
    production SSJoins use; the threshold filter keeps the candidate
    count ~linear. One gram-keyed join + two tiny size joins (AQE
    broadcasts the size side)."""
    d = table(spark, sf_dir, "documents")
    # Tokenize once (dedup_onion_ngram note: no split() inside the
    # transform lambda).
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    ws = F.col("ws")
    g = (
        t.select(
            "doc_id",
            F.explode(
                F.transform(
                    # Guard: sequence(1, n-2) descends for n < 3 and
                    # slice(ws, 0, 3) throws — short docs get no grams.
                    F.when(
                        F.size(ws) >= 3, F.sequence(F.lit(1), F.size(ws) - 2)
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.array_join(F.slice(ws, i, 3), " "),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    df_ok = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    )
    gf = g.join(df_ok.select("gram"), "gram")
    sz = gf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = gf.select(F.col("doc_id").alias("id_a"), "gram")
    b = gf.select(F.col("doc_id").alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("n_shared").cast("double") / F.least("na", "nb")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(cont >= 0.8)
        .select("id_a", "id_b", "n_shared", F.round(cont, 6).alias("containment"))
    )


@query(
    "text_winnowing_fingerprint",
    oracle="""
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT doc_id, i,
         (('0x' || substr(md5(array_to_string(ws[i:i + 2], ' ')), 1, 12))::BIGINT) AS h
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        FROM toks)
),
mins AS (
  SELECT doc_id, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM grams
)
SELECT doc_id,
       CAST(MAX(n_grams) AS BIGINT) AS n_grams,
       CAST(MAX(n_grams) - 3 AS BIGINT) AS n_windows,
       CAST(COUNT(DISTINCT m) AS BIGINT) AS n_fp,
       CAST(MIN(m) AS BIGINT) AS fp_min,
       CAST(MAX(m) AS BIGINT) AS fp_max,
       ROUND(COUNT(DISTINCT m) * 1.0 / (MAX(n_grams) - 3), 6) AS density
FROM mins WHERE i >= 4
GROUP BY doc_id
""",
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: word-3-gram rolling hashes
    (engine-shared 48-bit md5, ops/minhash.py convention), then the
    minimum hash of every full window of 4 consecutive grams — the
    standard guarantee that any shared run of >= 6 consecutive words
    between two documents shares at least one selected fingerprint.
    `text_fingerprint`'s whole-doc hashes detect exact/bag duplicates;
    winnowing is the position-robust local-match primitive under them.

    Spark shape: grams explode with their positions (one ordered
    transform per doc, no cross-doc state), the window min runs inside
    the per-doc sort partition, and the per-doc reduce is one
    partial+final aggregate — shuffle keyed on doc_id only, so the plan
    scales with corpus rows, never with pairwise comparisons. Fingerprint
    selection density is ~2/(w+1) by construction; the density column
    makes that measurable per document."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    # Tokenize ONCE into a real column (dedup_onion_ngram note): a
    # split() spliced into the transform lambda re-evaluates per element
    # on the interpreted HOF path.
    # The 3-gram concat_ws/slice + per-gram md5 build runs BEFORE the
    # doc_id window Exchange — serial on the one-row-group fixture scan;
    # spread() fans the narrow frame across task slots iff it under-splits.
    from sim_spark.ops.spread import spread

    t = spread(d.select("doc_id", "text")).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    starts = F.when(F.size(ws) >= 3, F.sequence(F.lit(1), F.size(ws) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    grams_arr = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("i"), F.concat_ws(" ", F.slice(ws, i, 3)).alias("g")
        ),
    )
    grams = t.select("doc_id", F.explode(grams_arr).alias("x")).select(
        "doc_id",
        F.col("x.i").alias("i"),
        h48(F.col("x.g")).alias("h"),
    )
    wm = W.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
    wc = W.partitionBy("doc_id")
    mins = grams.select(
        "doc_id",
        "i",
        F.min("h").over(wm).alias("m"),
        F.count(F.lit(1)).over(wc).alias("n_grams"),
    )
    return (
        mins.filter(F.col("i") >= 4)
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("bigint").alias("n_grams"),
            (F.max("n_grams") - 3).cast("bigint").alias("n_windows"),
            F.count_distinct("m").cast("bigint").alias("n_fp"),
            F.min("m").cast("bigint").alias("fp_min"),
            F.max("m").cast("bigint").alias("fp_max"),
            F.round(
                F.count_distinct("m") * 1.0 / (F.max("n_grams") - 3), 6
            ).alias("density"),
        )
    )


@query(
    "text_rake_keywords",
    oracle="""
WITH toks AS (
  SELECT doc_id, i, ws[i] AS w
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents))
),
stop AS (SELECT w FROM toks GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 20),
nt AS (
  SELECT doc_id, i, w,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM toks WHERE w NOT IN (SELECT w FROM stop)
),
phr AS (
  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY i) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM nt GROUP BY doc_id, grp
),
pw AS (
  SELECT nt.doc_id, nt.grp, nt.w, phr.plen
  FROM nt JOIN phr USING (doc_id, grp)
),
wsc AS (
  SELECT w, CAST(floor(SUM(plen) * 1000000000.0 / COUNT(*) + 0.5) AS BIGINT) AS swq
  FROM pw GROUP BY w
),
pocc AS (
  SELECT pw.doc_id, pw.grp, SUM(wsc.swq) AS ssum
  FROM pw JOIN wsc USING (w) GROUP BY pw.doc_id, pw.grp
)
SELECT p.phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occur,
       MAX(p.plen) AS plen,
       ROUND(MAX(o.ssum) / 1000000000.0, 6) AS score
FROM phr p JOIN pocc o USING (doc_id, grp)
GROUP BY p.phrase
ORDER BY MAX(o.ssum) DESC, p.phrase LIMIT 15
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), corpus-driven: the 20
    highest-frequency words act as the stopword delimiters, candidate
    phrases are the maximal stopword-free runs (gaps-and-islands on
    token positions), each word scores degree/frequency over the phrase
    corpus, and a phrase scores the sum of its word scores. Word scores
    are nano-quantized BEFORE the per-phrase sum, so the sum is an
    exact int64 no matter the reduction order and the top-15 ranking
    (score desc, phrase asc) hash-matches.

    Scale shape: tokenization explodes narrow; the stoplist is a 20-row
    broadcast anti-join; phrases and word scores are keyed aggregates
    (doc- and word-keyed); no pairwise stage. The final top-15 is a
    TakeOrdered over the bounded phrase-type frame."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "w")
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    stop = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(20)
        .select("w")
    )
    nt = toks.join(F.broadcast(stop), "w", "left_anti").select(
        "doc_id",
        "i",
        "w",
        (
            F.col("i")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("i"))
        ).alias("grp"),
    )
    phr = nt.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))), lambda x: x["w"]
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    pw = nt.join(phr.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
    wsc = pw.groupBy("w").agg(
        F.floor(F.sum("plen") * 1000000000.0 / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("swq")
    )
    pocc = pw.join(F.broadcast(wsc), "w").groupBy("doc_id", "grp").agg(
        F.sum("swq").alias("ssum")
    )
    return (
        phr.join(pocc, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occur"),
            F.max("plen").alias("plen"),
            F.round(F.max("ssum") / 1000000000.0, 6).alias("score"),
            F.max("ssum").alias("_ord"),
        )
        .orderBy(F.desc("_ord"), "phrase")
        .limit(15)
        .drop("_ord")
    )
