"""Multimodal queries with a REAL decode step (round 5).

The payloads are genuine media files — playable mono PCM16 WAV and
viewable 24-bpp BMP — synthesized deterministically from ``doc_id`` /
``n_chars`` by ops.multimodal's encoders, then decoded back by its
struct-level parsers inside Arrow-batched ``mapInPandas``. Because the
synthesis formula is integer arithmetic, DuckDB can recompute the
decoded features independently (unnest(range(...))), so the whole
encode → container bytes → parse → feature pipeline is hash-oracled:
if the BMP parser mis-handled stride padding or bottom-up row order,
``top_row_sum`` would mismatch; if the WAV chunk walk mis-read the data
chunk, ``sum_abs``/``first_sample``/``last_sample`` would.

100 TB shape: payload synthesis stands in for a parquet binary column
scan; decode is per-row independent work in mapInPandas — executor
memory bounded by Arrow batch size × payload size. The only shuffle
before the (tiny) feature frame is :func:`_doc_ids`' round-robin of
the 8-byte id frame, which pins decode parallelism to the machine
instead of the input's row-group layout (r11); payload bytes
themselves are never shuffled.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sim_spark.io import table, table_count
from sim_spark.ops.bandlsh import (
    banded_canonical_oracle,
    banded_dedup,
    banded_dedup_oracle,
)
from sim_spark.ops.multimodal import (
    SIN64A,
    SIN64B,
    SIN64C,
    bmp_features,
    decode_bmp,
    decode_png,
    gen_bmp_payload,
    gen_png_payload,
    gen_png_twin_payload,
    gen_wav_payload,
    gen_wav_tone_payload,
    wav_features,
)
from sim_spark.registry import query

_PAYLOAD_SCHEMA = "doc_id long, payload binary"


def _doc_ids(
    spark: SparkSession, sf_dir: str, *cols, heavy: bool = False
) -> DataFrame:
    """The decode keys' input frame, spread across all task slots.

    Decode parallelism equals partition count, and a small-fixture
    documents.parquet is often ONE row group — unsplittable, so the
    whole synthesize+decode chain would run in a single task (measured:
    22 s for the jpeg key at sf1 on local[32], all serial). The frame
    repartitioned here holds only doc_id (+ tiny int columns) BEFORE
    payload synthesis, so the Exchange moves ~8 bytes/row at ANY scale
    — the payloads themselves are never shuffled. At 100 TB the same
    reasoning holds: round-robin the id frame, synthesize/decode
    payloads after, stay narrow from there on.

    The fan-out is SIZED, not fixed: measured at sf0.1, a blanket
    32-way repartition of 5 000 docs costs more in per-task Python
    worker + Arrow batch overhead than cheap decodes (WAV) save, while
    the expensive decode (JPEG) still wins 3x from full fan-out. So the
    fan-out is proportional to per-row decode cost: HEAVY codecs
    (entropy-coded: JPEG, FLAC) take every task slot at any corpus size
    — measured 3x at sf0.1 and 10x at sf1 over the serial scan — while
    LIGHT decodes (struct parsers: WAV/BMP/PNG/tone) take ~1 task per
    2 000 documents, because at small corpora the per-task Python
    worker + Arrow overhead outweighs their decode work (measured:
    32-way WAV at sf0.1 is 2x slower than 3-way). The corpus count
    is a COUNT(*) job, run once per documents file
    (:func:`sim_spark.io.table_count`)."""
    d = table(spark, sf_dir, "documents").select("doc_id", *cols)
    try:
        slots = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        slots = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if heavy:
        return d.repartition(slots)
    n = table_count(spark, sf_dir, "documents")
    target = max(1, min(slots, (n + 1999) // 2000))
    # A well-laid-out input already splits wide enough: adding an
    # Exchange there only REDUCES parallelism (repartition(25) over a
    # 32-split scan) and pays a shuffle for nothing. r15: probe via the
    # optimizer's size estimate (ops/spread), not df.rdd — the RDD
    # conversion physically planned the frame per call.
    from sim_spark.ops.spread import _estimated_scan_partitions

    est = _estimated_scan_partitions(d)
    if est is not None and est >= target:
        return d
    return d.repartition(target)


def _make_gen_batches(gen_fn, with_n_chars: bool = False):
    """One mapInPandas payload-synthesis wrapper for every generator
    (r9 review: the per-format copies only differed in the gen call)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if with_n_chars:
                payloads = [
                    gen_fn(int(d), int(n))
                    for d, n in zip(pdf["doc_id"], pdf["n_chars"])
                ]
            else:
                payloads = [gen_fn(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                }
            )

    return _batches


class _FusedPayloads:
    """The synthesized-payload 'frame' of every decode key, fused (r14,
    guide §4: minimize what crosses the Python boundary).

    Old shape: ``d.mapInPandas(_gen_X, _PAYLOAD_SCHEMA)`` materialized a
    real intermediate DataFrame and the decode was a SECOND mapInPandas,
    so every payload byte crossed Python→JVM→Python (Arrow-serialized
    twice) before being parsed. A production pipeline reads payloads
    from a parquet/binaryFile scan and pays exactly ONE JVM→Python
    crossing; the extra round trip existed only because the fixture
    payloads are synthesized in Python in the first place. This adapter
    keeps each key's code shape — ``payloads.mapInPandas(feature_fn,
    schema)`` — but compiles to ONE fused mapInPandas whose Python side
    runs synthesize→decode per Arrow batch: plan diff "2 MapInPandas →
    1", and the payload bytes now cross no process boundary at all.
    Measured on multimodal_jpeg_decode at sf0.1/32 cores: 0.65 → 0.46 s
    median (interleaved A/B, 5-run medians); every decode key inherits.
    Decode work, output rows, and schema are unchanged."""

    def __init__(self, d: DataFrame, gen_batches):
        self._d, self._gen = d, gen_batches

    def mapInPandas(self, feature_batches, schema) -> DataFrame:
        gen = self._gen

        def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return feature_batches(gen(batches))

        return self._d.mapInPandas(_fused, schema)


def _fused_payloads(d: DataFrame, gen_batches) -> _FusedPayloads:
    return _FusedPayloads(d, gen_batches)


_gen_wav_batches = _make_gen_batches(gen_wav_payload, with_n_chars=True)
_gen_bmp_batches = _make_gen_batches(gen_bmp_payload)


@query(
    "multimodal_wav_decode",
    oracle="""
WITH p AS (SELECT doc_id, 64 + (n_chars % 128) AS n_samples FROM documents),
s AS (SELECT doc_id, n_samples, unnest(range(0, n_samples)) AS i FROM p),
v AS (SELECT doc_id, n_samples, i,
             ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp
      FROM s)
SELECT doc_id,
       CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
       CAST(min(CASE WHEN i = 0 THEN smp END) AS BIGINT) AS first_sample,
       CAST(min(CASE WHEN i = n_samples - 1 THEN smp END) AS BIGINT) AS last_sample
FROM v GROUP BY doc_id, n_samples
""",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode end-to-end: synthesize real WAV containers, parse
    them back with the chunk-walking RIFF parser, aggregate per-doc
    amplitude features. The oracle recomputes the features from the
    synthesis formula — it never sees the bytes, so a decode bug cannot
    cancel out."""
    d = _doc_ids(spark, sf_dir, "n_chars")
    payloads = _fused_payloads(d, _gen_wav_batches)
    return wav_features(payloads)


@query(
    "multimodal_bmp_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h FROM documents
),
cells AS (
  SELECT doc_id, w, h, rr.r, cc.c, hh.ch,
         (doc_id + 7 * rr.r + 13 * cc.c + 29 * hh.ch) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, 3)) AS ch) hh
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT) AS top_row_sum,
       CAST(max(val) AS BIGINT) AS px_max
FROM cells GROUP BY doc_id, w, h
""",
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode end-to-end: synthesize real 24-bpp BMPs (widths
    chosen to exercise 4-byte stride padding), parse them back, extract
    pixel statistics. ``top_row_sum`` pins row ORDER: BMP stores rows
    bottom-up, so a parser that skips the reorder matches ``px_sum`` but
    fails this column."""
    d = _doc_ids(spark, sf_dir, F.lit(0).alias("n_chars"))
    payloads = _fused_payloads(d, _gen_bmp_batches)
    return bmp_features(payloads)


def _wav_rms_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from sim_spark.ops.multimodal import decode_wav

    for pdf in batches:
        rows = {"doc_id": [], "win": [], "n_smp": [], "sumsq": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _rate, smp = decode_wav(bytes(payload))
            s = smp.astype(np.int64)
            n = len(s)
            qsize = n // 4
            q = np.minimum(np.arange(n) // qsize, 3)
            for k in range(4):
                seg = s[q == k]
                rows["doc_id"].append(int(doc_id))
                rows["win"].append(k)
                rows["n_smp"].append(int(len(seg)))
                rows["sumsq"].append(int(np.sum(seg * seg)))
        yield pd.DataFrame(rows)


@query(
    "multimodal_wav_rms_windows",
    oracle="""
WITH p AS (SELECT doc_id, 64 + (n_chars % 128) AS n FROM documents),
s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
v AS (SELECT doc_id, n, least(i // (n // 4), 3) AS win,
             ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp
      FROM s)
SELECT doc_id, CAST(win AS BIGINT) AS win,
       CAST(count(*) AS BIGINT) AS n_smp,
       CAST(sum(smp * smp) AS BIGINT) AS sumsq,
       CAST(floor(sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)) * 1000000 + 0.5)
            AS BIGINT) AS rms_micro
FROM v GROUP BY doc_id, win ORDER BY doc_id, win
""",
)
def multimodal_wav_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy: decode each WAV (real RIFF parse), split
    samples into 4 index quarters, per-window sum-of-squares (exact
    int64) and micro-unit RMS — the downsampled loudness envelope a
    media-curation pipeline filters on (silence/clipping detection).
    Decode stays per-row mapInPandas work; the per-(doc, win) frame is
    4 rows/doc. The oracle recomputes every window from the synthesis
    formula, so a segmentation bug (window boundaries, remainder
    handling) cannot hide."""
    d = _doc_ids(spark, sf_dir, "n_chars")
    payloads = _fused_payloads(d, _gen_wav_batches)
    feats = payloads.mapInPandas(
        _wav_rms_batches, "doc_id long, win long, n_smp long, sumsq long"
    )
    return feats.select(
        "doc_id",
        "win",
        "n_smp",
        "sumsq",
        F.floor(
            F.sqrt(F.col("sumsq").cast("double") / F.col("n_smp")) * 1000000 + 0.5
        )
        .cast("long")
        .alias("rms_micro"),
    ).orderBy("doc_id", "win")


def _bmp_tile_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from sim_spark.ops.multimodal import decode_bmp

    for pdf in batches:
        rows = {"doc_id": [], "quad": [], "n_px": [], "val_sum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_bmp(bytes(payload))
            a = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w, 3)
            r_hi = np.arange(h) >= h // 2
            c_hi = np.arange(w) >= w // 2
            quad = (r_hi[:, None].astype(int) * 2 + c_hi[None, :].astype(int))
            for q in range(4):
                mask = quad == q
                rows["doc_id"].append(int(doc_id))
                rows["quad"].append(q)
                rows["n_px"].append(int(mask.sum()))
                rows["val_sum"].append(int(a[mask].sum()))
        yield pd.DataFrame(rows)


def _make_dhash_batches(decode_fn):
    """Container-generic dhash signature extractor: decode via
    ``decode_fn`` (BMP or PNG parser — both return top-down (w, h,
    pixel-bytes)), grayscale by exact channel sum, nearest-neighbor
    sample to the canonical 8x9 grid, pack the 64
    brighter-to-the-right bits as 4x16-bit band values."""
    import numpy as np

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_fn(bytes(payload))
                a = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w, 3)
                gray = a.sum(axis=2)  # exact int channel sum, 0..765
                # nearest-neighbor "resize" to the canonical 8x9 dhash grid
                ri = (np.arange(8) * h) // 8
                cj = (np.arange(9) * w) // 9
                g = gray[np.ix_(ri, cj)]  # 8 rows x 9 cols
                # 64 bits, row-major: bit(r,c) = brighter-to-the-right
                flat = (g[:, 1:] > g[:, :-1]).astype(np.int64).flatten()
                rows["doc_id"].append(int(doc_id))
                for k in range(4):
                    rows[f"b{k}"].append(
                        int(sum(int(flat[16 * k + i]) << i for i in range(16)))
                    )
            yield pd.DataFrame(rows)

    return _batches


_bmp_dhash_batches = _make_dhash_batches(decode_bmp)
_png_dhash_batches = _make_dhash_batches(decode_png)


_IMG_SIG_CTES = """dims AS (
  SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h FROM documents
),
grid AS (
  SELECT doc_id, gr.r, gc.c, (gr.r * h) // 8 AS ri, (gc.c * w) // 9 AS cj
  FROM dims,
       LATERAL (SELECT unnest(range(0, 8)) AS r) gr,
       LATERAL (SELECT unnest(range(0, 9)) AS c) gc
),
gray AS (
  SELECT doc_id, r, c,
         ((doc_id + 7 * ri + 13 * cj) % 256)
       + ((doc_id + 7 * ri + 13 * cj + 29) % 256)
       + ((doc_id + 7 * ri + 13 * cj + 58) % 256) AS g
  FROM grid
),
bits AS (
  SELECT a.doc_id, a.r * 8 + a.c AS idx,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM gray a
  JOIN gray b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN idx // 16 = 0 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN idx // 16 = 1 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN idx // 16 = 2 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN idx // 16 = 3 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
  FROM bits GROUP BY doc_id
)"""


@query("dedup_image_dhash", oracle=banded_dedup_oracle(_IMG_SIG_CTES, hd_max=4))
def dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup via difference hash over the genuinely
    DECODED BMP pixels — the last cell of the multimodal-dedup matrix.

    Pipeline (the perceptual-dedup shape a media-curation pipeline runs
    at 100 TB): decode each image (real stride/row-order-aware BMP
    parser), grayscale by exact channel sum, nearest-neighbor-sample to
    the canonical 8x9 dhash grid, emit 64 brighter-to-the-right bits
    packed as 4x16-bit band values. Candidate pairs come from a banded
    LSH **equi-join** on (band_no, band_value) — any pair within
    Hamming<=4 that shares a band is a candidate; never an all-pairs
    scan (plan-asserted: no BroadcastNestedLoopJoin/CartesianProduct).
    Refine computes the exact 64-bit Hamming distance in-row
    (bit_count(xor)) and keeps pairs <= 4; the drop list aggregates per
    doc to its canonical smaller-id representative.

    100 TB shape: decode is per-row mapInPandas work (no shuffle); the
    only shuffle is the 5-int signature frame keyed on short (band_no,
    val) buckets, with the >64-doc saturation cap guarding megadup band
    values (SCALE.md §18: 99.7% of the sf1 candidate volume came from
    such buckets before the cap), and the refine is a constant-time bit
    op per candidate. The banding/cap/refine scaffold is shared with
    dedup_audio_fingerprint in ops/bandlsh.py.

    The oracle recomputes every sampled gray value from the synthesis
    formula — it never sees the bytes — so a decode bug (stride, bottom-up
    rows, channel order) shifts some bit and breaks the hash match."""
    return banded_dedup(bmp_dhash_sig(spark, sf_dir), hd_max=4)


def bmp_dhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BMP key's signature frame (doc_id, b0..b3) — exposed so the
    band_recall diagnostic (tests/test_scale_ops.py, SCALE.md §21) can
    measure the capped generator against the exact pair set."""
    d = _doc_ids(spark, sf_dir, F.lit(0).alias("n_chars"))
    payloads = _fused_payloads(d, _gen_bmp_batches)
    return payloads.mapInPandas(
        _bmp_dhash_batches, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )


@query(
    "dedup_image_dhash_megadup",
    oracle=banded_canonical_oracle(_IMG_SIG_CTES, hd_max=4),
)
def dedup_image_dhash_megadup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Megadup-robust image dedup (r10): the production two-stage shape
    SCALE.md §21's recall measurement demanded. An exact-signature
    pre-pass collapses every hd=0 dup class to its min-doc at LINEAR
    cost (a groupBy on the full 64-bit dhash — a 10k-member megadup
    class costs 10k rows, never 10k² pairs), then the shared banded-LSH
    scaffold links DISTINCT signatures one hop at Hamming ≤ 4. Band
    buckets hold signature VALUES, not docs, so the saturation cap
    reflects signature diversity and the §21-measured cap-vs-megadup
    recall cliff cannot drop hd=0 members — on the sf0.1 fixture this
    raises doc-level dup coverage from the pair key's capped 4.6%
    candidate recall to full coverage of identical-signature classes
    plus one-hop near-signature linkage. Output is one row per doc
    (doc_id, canonical_id, is_near_dup) — LINEAR at any dup density,
    the report a 100 TB curation pipeline actually consumes. Fully
    hash-oracled: DuckDB recomputes signatures from the synthesis
    formula and replays the identical class/band/one-hop algebra."""
    from sim_spark.ops.bandlsh import banded_canonical

    return banded_canonical(bmp_dhash_sig(spark, sf_dir), hd_max=4)


_gen_png_batches = _make_gen_batches(gen_png_payload)
_gen_png_twin_batches = _make_gen_batches(gen_png_twin_payload)


def _png_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = decode_png(bytes(payload))
            a = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w, 3)
            rows.append(
                (
                    int(doc_id), w, h, int(a.sum()), int(a[0].sum()),
                    int(a[:, 0].sum()), int(a.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "px_sum", "top_row_sum",
                     "left_col_sum", "px_max"],
        ).astype("int64")


@query(
    "multimodal_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 5 + (doc_id % 11) AS w, 3 + (doc_id % 5) AS h FROM documents
),
cells AS (
  SELECT doc_id, w, h, rr.r, cc.c, hh.ch,
         (3 * doc_id + 11 * rr.r + 17 * cc.c + 31 * hh.ch) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, 3)) AS ch) hh
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT) AS top_row_sum,
       CAST(sum(CASE WHEN c = 0 THEN val ELSE 0 END) AS BIGINT) AS left_col_sum,
       CAST(max(val) AS BIGINT) AS px_max
FROM cells GROUP BY doc_id, w, h
""",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode end-to-end (r9, shrinking the r8 decode fence):
    synthesize real non-interlaced RGB8 PNGs — DEFLATE-compressed via
    stdlib zlib, filter type cycling r % 5 so every image exercises
    several of the five PNG predictors, the zlib stream split across two
    IDAT chunks — then parse them back with the chunk-walking
    CRC-verifying decoder (ops/multimodal.decode_png) and aggregate
    per-doc pixel statistics. ``top_row_sum`` pins the Up/Average/Paeth
    prior-row reconstruction; ``left_col_sum`` pins the in-row Sub/Paeth
    left-neighbor reconstruction. The oracle recomputes every channel
    byte from the synthesis formula — it never sees the bytes — so an
    unfilter, chunk-walk, or inflate-reassembly bug cannot cancel out.
    Same 100 TB shape as the BMP/WAV twins: per-row mapInPandas decode,
    no shuffle until the tiny feature frame."""
    d = _doc_ids(spark, sf_dir, F.lit(0).alias("n_chars"))
    payloads = _fused_payloads(d, _gen_png_batches)
    return payloads.mapInPandas(
        _png_feature_batches,
        "doc_id long, width long, height long, px_sum long, "
        "top_row_sum long, left_col_sum long, px_max long",
    )


@query(
    "dedup_image_dhash_png",
    oracle=banded_dedup_oracle(_IMG_SIG_CTES, hd_max=4),
)
def dedup_image_dhash_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_image_dhash` over PNG containers (r9): the SAME pixel
    formula as the BMP key, carried through a completely different
    decode path — DEFLATE inflate + five-filter un-prediction + top-down
    rows instead of raw bytes + stride padding + bottom-up rows — must
    yield bit-identical dhash signatures and therefore the identical
    dedup report. The oracle is literally the BMP key's oracle
    (_IMG_SIG_CTES recomputes gray values from the formula), so ANY
    divergence between the two container decoders breaks the hash
    match. Candidate generation is the shared banded-LSH scaffold
    (ops/bandlsh.py): equi-join on (band_no, band_value) with the
    saturation cap, exact in-row Hamming refine — never all-pairs."""
    return banded_dedup(png_dhash_sig(spark, sf_dir), hd_max=4)


def png_dhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG twin's signature frame — see :func:`bmp_dhash_sig`."""
    d = _doc_ids(spark, sf_dir, F.lit(0).alias("n_chars"))
    payloads = _fused_payloads(d, _gen_png_twin_batches)
    return payloads.mapInPandas(
        _png_dhash_batches, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )


_gen_tone_batches = _make_gen_batches(gen_wav_tone_payload)


def _wav_fingerprint_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode each WAV and emit its audio fingerprint as 4 band values:
    window the 512 samples into 32 frames of 16, take per-frame
    sum(|s|), set derivative bit w when frame w+1 is louder than frame w
    (31 bits, 8 per band) — the classic landmark/Chromaprint shape
    reduced to its integer-exact core — and fold two coarse-quantized
    frame energies per band into bits 8..15 of the bucket value (the r8
    entropy booster; see the query docstring)."""
    import numpy as np

    from sim_spark.ops.multimodal import decode_wav

    for pdf in batches:
        rows = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _rate, s = decode_wav(bytes(payload))
            e = np.abs(s.astype(np.int64)).reshape(32, 16).sum(axis=1)
            bits = (e[1:] > e[:-1]).astype(np.int64)  # 31 bits
            rows["doc_id"].append(int(doc_id))
            for k in range(4):
                seg = bits[8 * k : 8 * k + 8]
                b = int(sum(int(seg[j]) << j for j in range(len(seg))))
                # entropy booster (r8 sf1 rehearsal): derivative bits
                # alone collapse into a few giant LSH buckets on
                # periodic signals; fold in two coarse-quantized window
                # energies per band. Step 4096 vs the <=±48 per-window
                # perturbation of a true near-dup keeps dup pairs in the
                # same bucket (boundary-straddle ~1%/window).
                q1 = min(int(e[8 * k]) // 4096, 15)
                q2 = min(int(e[8 * k + 4]) // 4096, 15)
                rows[f"b{k}"].append(b | (q1 << 8) | (q2 << 12))
        yield pd.DataFrame(rows)


def _lut(vals: list[int]) -> str:
    return "[" + ", ".join(str(v) for v in vals) + "]"


_AUDIO_SIG_CTES = f"""luts AS (
  SELECT {_lut(SIN64A)}::BIGINT[] AS sa,
         {_lut(SIN64B)}::BIGINT[] AS sb,
         {_lut(SIN64C)}::BIGINT[] AS sc
),
docs AS (SELECT doc_id, doc_id // 4 AS g FROM documents),
smp AS (
  SELECT doc_id, i,
         sa[1 + ((1 + g % 5) * i + (g * 7) % 64) % 64]
       + sb[1 + ((2 + g % 9) * i + (g * 13) % 64) % 64]
       + sc[1 + ((3 + g % 13) * i) % 64]
       + (doc_id * 131 + i * 17) % 7 - 3 AS v
  FROM docs, luts, (SELECT unnest(range(0, 512)) AS i) s
),
en AS (
  SELECT doc_id, i // 16 AS w, SUM(abs(v)) AS e
  FROM smp GROUP BY doc_id, i // 16
),
bits AS (
  SELECT a.doc_id, a.w AS idx, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.w = a.w + 1
  WHERE a.w < 31
),
qe AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN w = 0  THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q0a,
         CAST(sum(CASE WHEN w = 4  THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q0b,
         CAST(sum(CASE WHEN w = 8  THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q1a,
         CAST(sum(CASE WHEN w = 12 THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q1b,
         CAST(sum(CASE WHEN w = 16 THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q2a,
         CAST(sum(CASE WHEN w = 20 THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q2b,
         CAST(sum(CASE WHEN w = 24 THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q3a,
         CAST(sum(CASE WHEN w = 28 THEN least(e // 4096, 15) ELSE 0 END) AS BIGINT) AS q3b
  FROM en GROUP BY doc_id
),
sigbits AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN idx // 8 = 0 THEN bit * (1 << (idx % 8)) ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN idx // 8 = 1 THEN bit * (1 << (idx % 8)) ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN idx // 8 = 2 THEN bit * (1 << (idx % 8)) ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN idx // 8 = 3 THEN bit * (1 << (idx % 8)) ELSE 0 END) AS BIGINT) AS b3
  FROM bits GROUP BY doc_id
),
sig AS (
  SELECT s.doc_id,
         s.b0 + q.q0a * 256 + q.q0b * 4096 AS b0,
         s.b1 + q.q1a * 256 + q.q1b * 4096 AS b1,
         s.b2 + q.q2a * 256 + q.q2b * 4096 AS b2,
         s.b3 + q.q3a * 256 + q.q3b * 4096 AS b3
  FROM sigbits s JOIN qe q ON s.doc_id = q.doc_id
)"""


# hd over the 31 derivative bits only (mask 255): the energy nibbles
# route bucketing, they are not part of the metric.
@query(
    "dedup_audio_fingerprint",
    oracle=banded_dedup_oracle(_AUDIO_SIG_CTES, hd_max=3, hd_mask=255),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup via banded energy-derivative fingerprints
    over genuinely DECODED WAV samples — closing the last modality of
    the dedup matrix (r7 verdict task #6; the old ramp fixture made this
    degenerate, hence ops.multimodal.gen_wav_tone_payload).

    Pipeline: synthesize a real PCM16 WAV per doc (4-doc groups share a
    3-sinusoid signal, per-doc integer perturbation), decode it with the
    chunk-walking RIFF parser inside Arrow-batched mapInPandas, window
    into 32 frames, fingerprint = 31 louder-than-previous-frame bits
    packed as 4 band values. Candidates come from a banded LSH
    **equi-join** on (band_no, band_value) — never an all-pairs scan
    (plan-asserted) — and the refine keeps exact Hamming distance <= 3
    in-row via bit_count(xor). Output: each doc that near-duplicates a
    smaller-id doc, with its canonical representative.

    100 TB shape: identical to dedup_image_dhash — decode is per-row
    narrow work, the only shuffle carries a 5-int signature frame keyed
    on short band buckets with the >64-doc saturation cap (SCALE.md
    §18), refine is constant-time per candidate. The banding/cap/refine
    scaffold is shared with dedup_image_dhash in ops/bandlsh.py; the
    Hamming metric reads only the 31 derivative bits (mask 255) — the
    energy nibbles exist to route bucketing.

    The oracle recomputes every SAMPLE from the literal sine tables and
    re-derives the fingerprints in SQL — it never sees the bytes — so a
    WAV chunk-walk or windowing bug breaks the hash match."""
    return banded_dedup(wav_fingerprint_sig(spark, sf_dir), hd_max=3, hd_mask=255)


@query(
    "dedup_audio_fingerprint_metricband",
    oracle=banded_dedup_oracle(
        _AUDIO_SIG_CTES, hd_max=3, hd_mask=255, band_mask=255
    ),
)
def dedup_audio_fingerprint_metricband(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The audio dedup's metric-banded twin (r10 verdict task #8 — the
    user-facing recall dial, shipped as a key): identical decoded-WAV
    fingerprints, identical hd <= 3 metric over the 31 derivative bits,
    but band buckets form on the SAME masked bits the metric reads
    (``band_mask=255``) instead of the full band value with its
    energy-nibble entropy boosters.

    Why both keys exist: bucketing on routed (booster-included) values
    keeps buckets selective but is scheme-limited — SCALE.md §21
    measured 32.5% UNCAPPED recall for `dedup_audio_fingerprint`
    because a metric-close pair can differ in every band's energy
    nibbles and share no bucket. Metric banding restores the pigeonhole
    guarantee (hd <= 3 over 4 bands ⇒ one band matches exactly ⇒
    uncapped recall 100%, measured in §21's r11 row) at the price of
    coarser buckets: more of them saturate past the >64 cap on dense
    dup fixtures, so the CAPPED generator refuses more megadup-class
    enumeration. The recall/cost numbers for both settings live in
    SCALE.md §21; `ops/bandlsh.banded_dedup(band_mask=...)` is the dial
    a user turns per modality."""
    return banded_dedup(
        wav_fingerprint_sig(spark, sf_dir), hd_max=3, hd_mask=255, band_mask=255
    )


def wav_fingerprint_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio key's signature frame — see :func:`bmp_dhash_sig`."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_tone_batches)
    return payloads.mapInPandas(
        _wav_fingerprint_batches, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )


@query(
    "multimodal_bmp_tile_stats",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h FROM documents
),
cells AS (
  SELECT doc_id, w, h, rr.r, cc.c, hh.ch,
         (CASE WHEN rr.r >= h // 2 THEN 2 ELSE 0 END
          + CASE WHEN cc.c >= w // 2 THEN 1 ELSE 0 END) AS quad,
         (doc_id + 7 * rr.r + 13 * cc.c + 29 * hh.ch) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, 3)) AS ch) hh
)
SELECT doc_id, CAST(quad AS BIGINT) AS quad,
       CAST(count(*) / 3 AS BIGINT) AS n_px,
       CAST(sum(val) AS BIGINT) AS val_sum
FROM cells GROUP BY doc_id, quad ORDER BY doc_id, quad
""",
)
def multimodal_bmp_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quadrant pixel statistics over the genuinely DECODED image
    (2×2 spatial tiling at h//2, w//2): a wrong stride, row order, or
    tile boundary shifts some quadrant's sum, and the oracle — which
    recomputes every (row, col, channel) byte from the synthesis
    formula — catches it. Tiling is the downsample-for-vision-models
    preprocessing shape; per-row mapInPandas decode, 4 rows/doc out."""
    d = _doc_ids(spark, sf_dir, F.lit(0).alias("n_chars"))
    payloads = _fused_payloads(d, _gen_bmp_batches)
    return (
        payloads.mapInPandas(
            _bmp_tile_batches, "doc_id long, quad long, n_px long, val_sum long"
        )
        .orderBy("doc_id", "quad")
    )


# --- JPEG: entropy-coded media decode (r11, closing the r10 #1 gap) ---------

from sim_spark.ops.jpeg import (  # noqa: E402
    decode_jpeg,
    gen_jpeg_dc_payload,
    gen_jpeg_payload,
)

_gen_jpeg_batches = _make_gen_batches(gen_jpeg_payload)
_gen_jpeg_dc_batches = _make_gen_batches(gen_jpeg_dc_payload)


def _jpeg_coeff_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode each JPEG and emit entropy-layer features computed from
    the RECOVERED quantized coefficients (decode_jpeg's exact output):
    a zigzag-position-weighted checksum catches de-zigzag or run-length
    errors; dc_sum catches DC-prediction / restart-reset errors."""
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px, coeffs = decode_jpeg(bytes(payload))
            n = coeffs.shape[0]
            b = np.arange(n, dtype=np.int64)[:, None]
            z = np.arange(64, dtype=np.int64)[None, :]
            rows.append(
                (
                    int(doc_id),
                    w,
                    h,
                    n,
                    int(coeffs[:, 0].sum()),
                    int((coeffs[:, 1:] != 0).sum()),
                    int(np.abs(coeffs).sum()),
                    int(((z + 64 * b) * coeffs).sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_blocks", "dc_sum",
                     "ac_nonzero", "abs_sum", "zz_checksum"],
        ).astype("int64")


@query(
    "multimodal_jpeg_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 2 + (doc_id % 4) AS wb, 1 + (doc_id % 3) AS hb
  FROM documents
),
cells AS (
  SELECT doc_id, wb, hb, bb.b, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 17 * bb.b) % 41) - 20
           WHEN zz.z < 20 AND (doc_id + 7 * bb.b + 3 * zz.z) % 5 = 0
             THEN ((doc_id + 11 * bb.b + 13 * zz.z) % 21) - 10
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, wb * hb)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
)
SELECT doc_id,
       CAST(wb * 8 AS BIGINT) AS width,
       CAST(hb * 8 AS BIGINT) AS height,
       CAST(wb * hb AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS ac_nonzero,
       CAST(sum(abs(coef)) AS BIGINT) AS abs_sum,
       CAST(sum((z + 64 * b) * coef) AS BIGINT) AS zz_checksum
FROM cells GROUP BY doc_id, wb, hb
""",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode end-to-end — the entropy-coded decode the
    r10 verdict named the #1 capability gap, now real (ops/jpeg.py):
    synthesize spec-valid grayscale JFIF files (quantized-coefficient
    blocks -> zigzag -> DC prediction -> Annex K canonical Huffman ->
    byte-stuffed scan with restart markers every 4 MCUs on every third
    doc), then decode them with the full baseline decoder (marker walk,
    DQT/DHT/SOF0/DRI parse, bit-reader with 0xFF00 unstuffing and RSTn
    DC-predictor resets, Huffman + EXTEND, inverse zigzag) and
    aggregate features of the RECOVERED quantized coefficients. JPEG is
    lossy at the pixel level but the entropy layer is exactly
    invertible, so the oracle — which recomputes every coefficient from
    the doc_id formula without ever seeing the bytes — hash-matches
    bit-exactly: a Huffman table, run-length, zigzag, stuffing, or
    DC-prediction bug cannot cancel out of `zz_checksum`. The IDCT /
    pixel half is pinned by `multimodal_jpeg_pixels` (exact DC-only
    math) plus property tests against a naive O(N^4) reference DCT.
    100 TB shape: per-row mapInPandas decode, no shuffle until the
    8-column feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_batches)
    return payloads.mapInPandas(
        _jpeg_coeff_feature_batches,
        "doc_id long, width long, height long, n_blocks long, dc_sum long, "
        "ac_nonzero long, abs_sum long, zz_checksum long",
    )


def _jpeg_pixel_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px, _ = decode_jpeg(bytes(payload))
            a = px.astype(np.int64)
            rows.append(
                (int(doc_id), w, h, int(a.sum()), int(a.min()), int(a.max()))
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "px_sum", "px_min", "px_max"],
        ).astype("int64")


@query(
    "multimodal_jpeg_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id, 2 + (doc_id % 3) AS wb, 1 + (doc_id % 2) AS hb
  FROM documents
),
blocks AS (
  SELECT doc_id, wb, hb, bb.b,
         LEAST(255, GREATEST(0,
           ((doc_id + 37 * bb.b) % 321) - 160 + 128)) AS px
  FROM dims, LATERAL (SELECT unnest(range(0, wb * hb)) AS b) bb
)
SELECT doc_id,
       CAST(wb * 8 AS BIGINT) AS width,
       CAST(hb * 8 AS BIGINT) AS height,
       CAST(64 * sum(px) AS BIGINT) AS px_sum,
       CAST(min(px) AS BIGINT) AS px_min,
       CAST(max(px) AS BIGINT) AS px_max
FROM blocks GROUP BY doc_id, wb, hb
""",
)
def multimodal_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pixel half of the JPEG oracle pair: DC-only blocks with
    q_dc = 8 decode to the constant pixel clamp(dc + 128, 0, 255)
    EXACTLY (dequant/8 = dc, an integer — no rounding ambiguity), so
    decoded-pixel statistics are hash-oracled against pure integer SQL.
    dc spans [-160, 160], exercising both clamp edges. A dequantize,
    IDCT-scaling, level-shift, clamp, or block-stitching bug shifts
    `px_sum`; together with `multimodal_jpeg_decode` (entropy layer,
    general coefficients) the full decode path is covered by exact
    oracles despite JPEG's lossiness."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_dc_batches)
    return payloads.mapInPandas(
        _jpeg_pixel_feature_batches,
        "doc_id long, width long, height long, px_sum long, "
        "px_min long, px_max long",
    )


# --- progressive (SOF2) JPEG decode (r12) -----------------------------------

from sim_spark.ops.jpeg import (  # noqa: E402
    decode_jpeg_progressive,
    encode_jpeg_progressive_from_coeffs,
    formula_jpeg_coeffs,
)


def _gen_jpeg_progressive_payload(doc_id: int) -> bytes:
    wb, hb, coeffs, _rst = formula_jpeg_coeffs(doc_id)
    return encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)


_gen_jpeg_prog_batches = _make_gen_batches(_gen_jpeg_progressive_payload)


def _jpeg_prog_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px, coeffs = decode_jpeg_progressive(bytes(payload))
            n = coeffs.shape[0]
            b = np.arange(n, dtype=np.int64)[:, None]
            z = np.arange(64, dtype=np.int64)[None, :]
            rows.append(
                (
                    int(doc_id),
                    w,
                    h,
                    n,
                    int(coeffs[:, 0].sum()),
                    int((coeffs[:, 1:] != 0).sum()),
                    int(np.abs(coeffs).sum()),
                    int(((z + 64 * b) * coeffs).sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_blocks", "dc_sum",
                     "ac_nonzero", "abs_sum", "zz_checksum"],
        ).astype("int64")


@query(
    "multimodal_jpeg_progressive_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 2 + (doc_id % 4) AS wb, 1 + (doc_id % 3) AS hb
  FROM documents
),
cells AS (
  SELECT doc_id, wb, hb, bb.b, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 17 * bb.b) % 41) - 20
           WHEN zz.z < 20 AND (doc_id + 7 * bb.b + 3 * zz.z) % 5 = 0
             THEN ((doc_id + 11 * bb.b + 13 * zz.z) % 21) - 10
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, wb * hb)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
)
SELECT doc_id,
       CAST(wb * 8 AS BIGINT) AS width,
       CAST(hb * 8 AS BIGINT) AS height,
       CAST(wb * hb AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS ac_nonzero,
       CAST(sum(abs(coef)) AS BIGINT) AS abs_sum,
       CAST(sum((z + 64 * b) * coef) AS BIGINT) AS zz_checksum
FROM cells GROUP BY doc_id, wb, hb
""",
)
def multimodal_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (SOF2) JPEG decode end-to-end — the r11 verdict's #2
    real-world gap (a large share of web JPEGs are progressive), now
    real in ops/jpeg.py: the SAME quantized-coefficient formula as the
    baseline key is re-encoded as a six-scan progressive stream
    (DC first + refinement, two spectral AC bands each first +
    refinement, successive approximation Al 1 -> 0 — DC arithmetic
    shift, AC magnitude shift, EOB-run coding with buffered correction
    bits per T.81 G.1.2), then decoded through the full multi-scan
    marker walk. The entropy layer is lossless regardless of scan
    structure, so the recovered coefficients — and therefore the
    oracle, identical to multimodal_jpeg_decode's — hash-match
    bit-exactly; any EOB-run, point-transform, or correction-bit bug
    lands in zz_checksum. 100 TB shape unchanged: per-row Arrow-batched
    mapInPandas decode, no shuffle until the feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_prog_batches)
    return payloads.mapInPandas(
        _jpeg_prog_feature_batches,
        "doc_id long, width long, height long, n_blocks long, dc_sum long, "
        "ac_nonzero long, abs_sum long, zz_checksum long",
    )


# --- FLAC: lossless entropy-coded audio decode (r11) ------------------------

from sim_spark.ops.flac import decode_flac, gen_flac_payload  # noqa: E402

_gen_flac_batches = _make_gen_batches(gen_flac_payload)


def _flac_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, s = decode_flac(bytes(payload))
            a = s.astype(np.int64)
            rows.append(
                (int(doc_id), rate, len(s), int(np.abs(a).sum()),
                 int(np.abs(a).max()), int(a[0]), int(a[-1]))
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "sample_rate", "n_samples", "sum_abs",
                     "max_abs", "first_sample", "last_sample"],
        ).astype("int64")


@query(
    "multimodal_flac_decode",
    oracle="""
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 400) AS n,
         8000 + (doc_id % 3) * 4000 AS rate,
         (doc_id * 7) % 1001 - 500 AS cst,
         1 + (doc_id % 5) AS step
  FROM documents
),
s AS (
  SELECT doc_id, n, rate,
         ii.i,
         CASE
           WHEN ii.i < 64 THEN cst
           WHEN ii.i < 128 THEN cst + (ii.i - 64) * step
           ELSE (doc_id * 31 + ii.i * ii.i * 17) % 4001 - 2000
         END AS smp
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
       CAST(min(CASE WHEN i = 0 THEN smp END) AS BIGINT) AS first_sample,
       CAST(min(CASE WHEN i = n - 1 THEN smp END) AS BIGINT) AS last_sample
FROM s GROUP BY doc_id, n, rate
""",
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless entropy-coded audio decode end-to-end (ops/flac.py):
    synthesize real FLAC streams — STREAMINFO with a genuine MD5 of the
    sample stream, sync-coded frames with CRC-8/CRC-16, and per-frame
    cheapest-of CONSTANT / FIXED-order-0..2 subframes whose residuals
    are rice/Golomb entropy-coded — then decode them back (bit reader,
    UTF-8 frame numbers, rice + zigzag, fixed-predictor integration,
    all three checksums VERIFIED) and aggregate per-doc sample
    statistics. Because FLAC is lossless the whole pipeline is exactly
    invertible, so unlike the JPEG pair a single oracle covers it end
    to end: DuckDB recomputes every sample from the three-regime
    doc_id formula (constant head / linear ramp / quadratic-hash noise
    — chosen so every subframe type and rice parameter range occurs)
    without ever seeing the bytes. Same 100 TB shape as the other
    codecs: per-row Arrow-batched mapInPandas, no shuffle until the
    tiny feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_flac_batches)
    return payloads.mapInPandas(
        _flac_feature_batches,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, "
        "max_abs long, first_sample long, last_sample long",
    )


# --- color 4:2:0 JPEG (r11): the dominant real-world JPEG shape -------------

from sim_spark.ops.jpeg import (  # noqa: E402
    decode_jpeg_color,
    gen_jpeg_color_payload,
)

_gen_jpeg_color_batches = _make_gen_batches(gen_jpeg_color_payload)


def _jpeg_color_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, rgb, (y, cb, cr) = decode_jpeg_color(bytes(payload))

            def chk(c):
                b = np.arange(c.shape[0], dtype=np.int64)[:, None]
                z = np.arange(64, dtype=np.int64)[None, :]
                return int(((z + 64 * b) * c).sum())

            rows.append(
                (
                    int(doc_id), w, h, y.shape[0] // 4,
                    int(y[:, 0].sum()), int(cb[:, 0].sum()), int(cr[:, 0].sum()),
                    int((y[:, 1:] != 0).sum() + (cb[:, 1:] != 0).sum()
                        + (cr[:, 1:] != 0).sum()),
                    chk(y), chk(cb), chk(cr),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_mcus", "y_dc_sum",
                     "cb_dc_sum", "cr_dc_sum", "ac_nonzero",
                     "y_checksum", "cb_checksum", "cr_checksum"],
        ).astype("int64")


@query(
    "multimodal_jpeg_color_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + (doc_id % 3) AS mx, 1 + (doc_id % 2) AS my
  FROM documents
),
ycells AS (
  SELECT doc_id, mx, my, bb.b, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 23 * bb.b) % 61) - 30
           WHEN zz.z <= 15 AND (doc_id + 5 * bb.b + 7 * zz.z) % 6 = 0
             THEN ((doc_id + 3 * bb.b + 11 * zz.z) % 19) - 9
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, mx * 2 * my * 2)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
),
cbcells AS (
  SELECT doc_id, bb.m, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 29 * bb.m) % 41) - 20
           WHEN zz.z <= 9 AND (doc_id + 11 * bb.m + 3 * zz.z) % 7 = 0
             THEN ((doc_id + 13 * bb.m + 5 * zz.z) % 17) - 8
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, mx * my)) AS m) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
),
crcells AS (
  SELECT doc_id, bb.m, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 31 * bb.m) % 41) - 20
           WHEN zz.z <= 9 AND (doc_id + 7 * bb.m + 5 * zz.z) % 7 = 0
             THEN ((doc_id + 17 * bb.m + 3 * zz.z) % 17) - 8
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, mx * my)) AS m) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
),
yagg AS (
  SELECT doc_id,
         sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS y_dc_sum,
         sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS y_nz,
         sum((z + 64 * b) * coef) AS y_checksum
  FROM ycells GROUP BY doc_id
),
cbagg AS (
  SELECT doc_id,
         sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS cb_dc_sum,
         sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS cb_nz,
         sum((z + 64 * m) * coef) AS cb_checksum
  FROM cbcells GROUP BY doc_id
),
cragg AS (
  SELECT doc_id,
         sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS cr_dc_sum,
         sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS cr_nz,
         sum((z + 64 * m) * coef) AS cr_checksum
  FROM crcells GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.mx * 16 AS BIGINT) AS width,
       CAST(d.my * 16 AS BIGINT) AS height,
       CAST(d.mx * d.my AS BIGINT) AS n_mcus,
       CAST(y.y_dc_sum AS BIGINT) AS y_dc_sum,
       CAST(cb.cb_dc_sum AS BIGINT) AS cb_dc_sum,
       CAST(cr.cr_dc_sum AS BIGINT) AS cr_dc_sum,
       CAST(y.y_nz + cb.cb_nz + cr.cr_nz AS BIGINT) AS ac_nonzero,
       CAST(y.y_checksum AS BIGINT) AS y_checksum,
       CAST(cb.cb_checksum AS BIGINT) AS cb_checksum,
       CAST(cr.cr_checksum AS BIGINT) AS cr_checksum
FROM dims d
JOIN yagg y USING (doc_id)
JOIN cbagg cb USING (doc_id)
JOIN cragg cr USING (doc_id)
""",
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 YCbCr baseline JPEG decode — the shape real-world images
    overwhelmingly take. The encoder (ops/jpeg.py) emits genuinely
    interleaved MCUs (Y00 Y01 Y10 Y11 Cb Cr per MCU, Annex K luminance
    tables + DISTINCT chrominance tables, separate luma/chroma DQTs,
    per-component DC predictors, RSTn every 2 MCUs on every fourth doc
    resetting all three predictors); the decoder walks the same
    structure generically (any 1/2 sampling factors), then dequantizes,
    IDCTs each plane, 2x2-upsamples chroma, and converts BT.601
    YCbCr->RGB. The oracle hash-matches the per-component RECOVERED
    quantized coefficients (position-weighted checksums per plane)
    against integer SQL — an interleave-order, chroma-table,
    predictor-mixup, or restart bug cannot cancel across three
    independent checksums. Pixel/color-conversion math is pinned by
    tests (DC-only gray color images decode to exact constants).
    Per-row Arrow-batched mapInPandas, no shuffle."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_color_batches)
    return payloads.mapInPandas(
        _jpeg_color_feature_batches,
        "doc_id long, width long, height long, n_mcus long, y_dc_sum long, "
        "cb_dc_sum long, cr_dc_sum long, ac_nonzero long, y_checksum long, "
        "cb_checksum long, cr_checksum long",
    )


# --- stereo FLAC with channel decorrelation (r11) ---------------------------

from sim_spark.ops.flac import (  # noqa: E402
    decode_flac_stereo,
    gen_flac_stereo_payload,
)

_gen_flac_stereo_batches = _make_gen_batches(gen_flac_stereo_payload)


def _flac_stereo_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, left, right = decode_flac_stereo(bytes(payload))
            lft = left.astype(np.int64)
            rgt = right.astype(np.int64)
            rows.append(
                (int(doc_id), rate, len(lft), int(np.abs(lft).sum()),
                 int(np.abs(rgt).sum()), int(np.abs(lft - rgt).sum()),
                 int(lft[0]), int(rgt[-1]))
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "sample_rate", "n_samples", "sum_abs_l",
                     "sum_abs_r", "sum_abs_side", "first_l", "last_r"],
        ).astype("int64")


@query(
    "multimodal_flac_stereo_decode",
    oracle="""
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 300) AS n,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents
),
s AS (
  SELECT doc_id, n, rate, ii.i,
         (doc_id * 31 + ii.i * ii.i * 13) % 3001 - 1500 AS l
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
),
lr AS (
  SELECT doc_id, n, rate, i, l,
         CASE WHEN i < n // 2 THEN l + (doc_id + i) % 21 - 10
              ELSE (doc_id * 17 + i * i * 29) % 12001 - 6000
         END AS r
  FROM s
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(l)) AS BIGINT) AS sum_abs_l,
       CAST(sum(abs(r)) AS BIGINT) AS sum_abs_r,
       CAST(sum(abs(l - r)) AS BIGINT) AS sum_abs_side,
       CAST(min(CASE WHEN i = 0 THEN l END) AS BIGINT) AS first_l,
       CAST(min(CASE WHEN i = n - 1 THEN r END) AS BIGINT) AS last_r
FROM lr GROUP BY doc_id, n, rate
""",
)
def multimodal_flac_stereo_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo FLAC decode with per-frame channel decorrelation — the
    encoder costs out independent L/R vs left/side vs right/side vs
    mid/side (side = L−R at 17 bits) per frame like a real encoder, and
    the fixture's two regimes make BOTH an independent and a
    decorrelated assignment occur within most payloads (verified in
    tests; all four reconstructions are additionally round-tripped with
    forced assignments). The decoder undoes whichever assignment each
    frame header declares and verifies CRC-8, CRC-16, and the
    STREAMINFO MD5 computed over the INTERLEAVED L,R stream — so a
    reconstruction or interleave bug cannot pass. Lossless ⇒ one
    end-to-end oracle: DuckDB recomputes every L/R sample from the
    doc_id formula. `sum_abs_side` pins the decorrelation axis
    explicitly. Per-row Arrow-batched mapInPandas."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_flac_stereo_batches)
    return payloads.mapInPandas(
        _flac_stereo_feature_batches,
        "doc_id long, sample_rate long, n_samples long, sum_abs_l long, "
        "sum_abs_r long, sum_abs_side long, first_l long, last_r long",
    )


# --- LPC-coded FLAC end-to-end (r11) ----------------------------------------

from sim_spark.ops.flac import gen_flac_lpc_payload  # noqa: E402

_gen_flac_lpc_batches = _make_gen_batches(gen_flac_lpc_payload)


@query(
    "multimodal_flac_lpc_decode",
    oracle="""
WITH p AS (
  SELECT doc_id, 180 + (doc_id % 200) AS n,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents
),
steps AS (
  SELECT doc_id, n, rate, ii.i,
         (doc_id * 13 + ii.i * ii.i * 7) % 41 - 20 AS step
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
),
s AS (
  SELECT doc_id, n, rate, i,
         SUM(step) OVER (PARTITION BY doc_id ORDER BY i) + doc_id % 500 AS smp
  FROM steps
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
       CAST(min(CASE WHEN i = 0 THEN smp END) AS BIGINT) AS first_sample,
       CAST(min(CASE WHEN i = n - 1 THEN smp END) AS BIGINT) AS last_sample
FROM s GROUP BY doc_id, n, rate
""",
)
def multimodal_flac_lpc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LPC half of the FLAC surface, end to end: every frame of
    these streams carries a genuine LPC subframe (per-doc quantized
    predictor, order 1..3, taps near unity at precision 8 / shift 5 —
    the walk fixture makes residuals small but nonzero, so payloads are
    ~20% smaller than raw), decoded through the full container path —
    marker walk, frame CRCs, QLP precision/shift/coefficient parse,
    integer prediction inversion, STREAMINFO MD5. The oracle recomputes
    every sample from the random-walk formula (a windowed running SUM —
    the only decode key whose oracle itself needs a window function).
    Tail frames shorter than the predictor order go FIXED, exercising
    mixed subframe types within one stream. Per-row Arrow-batched
    mapInPandas; heavy fan-out class (entropy decode)."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_flac_lpc_batches)
    return payloads.mapInPandas(
        _flac_feature_batches,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, "
        "max_abs long, first_sample long, last_sample long",
    )


# --- FLAC wasted-bits decode (r12) ------------------------------------------

from sim_spark.ops.flac import gen_flac_wasted_payload  # noqa: E402

_gen_flac_wasted_batches = _make_gen_batches(gen_flac_wasted_payload)


@query(
    "multimodal_flac_wasted_decode",
    oracle="""
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 400) AS n,
         8000 + (doc_id % 3) * 4000 AS rate,
         (doc_id * 7) % 1001 - 500 AS cst,
         1 + (doc_id % 5) AS step,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END
           AS scale
  FROM documents
),
s AS (
  SELECT doc_id, n, rate,
         ii.i,
         CASE
           WHEN ii.i < 64 THEN cst
           WHEN ii.i < 128 THEN cst + (ii.i - 64) * step
           ELSE (doc_id * 31 + ii.i * ii.i * 17) % 4001 - 2000
         END * scale AS smp
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
       CAST(min(CASE WHEN i = 0 THEN smp END) AS BIGINT) AS first_sample,
       CAST(min(CASE WHEN i = n - 1 THEN smp END) AS BIGINT) AS last_sample
FROM s GROUP BY doc_id, n, rate
""",
)
def multimodal_flac_wasted_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasted-bits FLAC decode under the hash oracle (r12, closing the
    r11 verdict's top real-world-FLAC gap together with partitioned
    rice): the three-regime mono fixture scaled by 2^(doc_id % 4), so
    three quarters of the streams carry subframes whose samples share
    1..3 trailing zero bits. The encoder strips them (flag + unary
    count, reduced-width residual coding — ops/flac.py:_wasted_shifts),
    the decoder restores them, and since r12 BOTH sides also negotiate
    per-block rice partition orders 0..6 (ops/flac.py:_rice_plans /
    _read_residuals), so every payload here — and in the three r11 FLAC
    keys — exercises the two shapes real encoders emit almost
    universally. The oracle recomputes every scaled sample in integer
    SQL without seeing a byte. Same 100 TB decode shape: Arrow-batched
    mapInPandas over the round-robin id frame, no shuffle until the
    feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_flac_wasted_batches)
    return payloads.mapInPandas(
        _flac_feature_batches,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, "
        "max_abs long, first_sample long, last_sample long",
    )


# --- MP3 frame-header / container parse (r12) --------------------------------

from sim_spark.ops.mp3 import gen_mp3_payload, parse_mp3  # noqa: E402

_gen_mp3_batches = _make_gen_batches(gen_mp3_payload)


def _mp3_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            d = parse_mp3(bytes(payload))
            rows.append(
                (int(doc_id), d["n_frames"], d["sample_rate"], d["mode"],
                 d["total_bytes"], d["kbps_sum"], d["duration_us"],
                 d["xing_frames"], d["xing_bytes"], d["head16_sum"])
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_frames", "sample_rate", "mode",
                     "total_bytes", "kbps_sum", "duration_us",
                     "xing_frames", "xing_bytes", "head16_sum"],
        ).astype("int64")


_MP3_KBPS_SQL = (
    "CASE 1 + (doc_id + 3 * ii.i) % 14 "
    "WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56 "
    "WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112 "
    "WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224 "
    "WHEN 13 THEN 256 ELSE 320 END"
)


@query(
    "multimodal_mp3_header_parse",
    oracle=f"""
WITH p AS (
  SELECT doc_id, 3 + doc_id % 6 AS nf,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS sr,
         doc_id % 4 AS mode
  FROM documents
),
fr AS (
  SELECT doc_id, nf, sr, mode, ii.i,
         {_MP3_KBPS_SQL} AS kbps,
         (doc_id + ii.i) % 2 AS pad
  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS i) ii
),
fs AS (
  SELECT doc_id, nf, sr, mode, i, kbps, pad,
         144000 * kbps // sr + pad AS fsize
  FROM fr
),
h16 AS (
  SELECT fs.doc_id, SUM((fs.doc_id + 17 * fs.i + jj.j) % 256) AS s16
  FROM fs, LATERAL (SELECT unnest(range(0, 16)) AS j) jj
  WHERE fs.i >= 1 GROUP BY fs.doc_id
)
SELECT fs.doc_id,
       CAST(MAX(nf) AS BIGINT) AS n_frames,
       CAST(MAX(sr) AS BIGINT) AS sample_rate,
       CAST(MAX(mode) AS BIGINT) AS mode,
       CAST(SUM(fsize) AS BIGINT) AS total_bytes,
       CAST(SUM(kbps) AS BIGINT) AS kbps_sum,
       CAST(MAX(nf) * 1152 * 1000000 // MAX(sr) AS BIGINT) AS duration_us,
       CAST(MAX(nf) AS BIGINT) AS xing_frames,
       CAST(SUM(fsize) AS BIGINT) AS xing_bytes,
       CAST(MAX(h16.s16) AS BIGINT) AS head16_sum
FROM fs JOIN h16 ON fs.doc_id = h16.doc_id
GROUP BY fs.doc_id
""",
)
def multimodal_mp3_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 container/frame-header parse (r12 — shrinking the last
    multimodal fence to "psychoacoustic samples only", per the r11
    verdict): synthesize spec-shaped MPEG-1 Layer III VBR streams
    (sync-worded headers, exact Layer III frame-length arithmetic with
    padding, a Xing VBR tag with frame/byte counts behind the
    mode-dependent side-info offset, per-frame bitrates cycling the
    whole table) and walk them back with ops/mp3.parse_mp3 — sync
    validation, reserved-code fences, duration/bitrate/channel-mode
    extraction, Xing consistency, and a first-16-bytes body checksum
    that pins the frame-length walk (an off-by-one padding bug lands
    mid-body and breaks sync or the checksum). Everything a curation
    pipeline reads from audio metadata, integer-exact in both engines;
    sample decode remains the documented psychoacoustic fence. Light
    fan-out class: Arrow-batched mapInPandas, no shuffle until the
    10-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_mp3_batches)
    return payloads.mapInPandas(
        _mp3_feature_batches,
        "doc_id long, n_frames long, sample_rate long, mode long, "
        "total_bytes long, kbps_sum long, duration_us long, "
        "xing_frames long, xing_bytes long, head16_sum long",
    )


# --- FLAC bit-depth decode (r12): 8/16/24-bit ---------------------------------

from sim_spark.ops.flac import gen_flac_depth_payload  # noqa: E402

_gen_flac_depth_batches = _make_gen_batches(gen_flac_depth_payload)


@query(
    "multimodal_flac_depth_decode",
    oracle="""
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 300) AS n,
         8000 + (doc_id % 3) * 4000 AS rate,
         CASE doc_id % 3 WHEN 0 THEN 121 WHEN 1 THEN 1001
              ELSE 100001 END AS c,
         CASE doc_id % 3 WHEN 0 THEN 241 WHEN 1 THEN 4001
              ELSE 1000001 END AS m
  FROM documents
),
s AS (
  SELECT doc_id, n, rate, ii.i,
         CASE
           WHEN ii.i < 64 THEN (doc_id * 7) % c - c // 2
           ELSE (doc_id * 31 + ii.i * ii.i * 17) % m - m // 2
         END AS smp
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
       CAST(min(CASE WHEN i = 0 THEN smp END) AS BIGINT) AS first_sample,
       CAST(min(CASE WHEN i = n - 1 THEN smp END) AS BIGINT) AS last_sample
FROM s GROUP BY doc_id, n, rate
""",
)
def multimodal_flac_depth_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8/16/24-bit FLAC decode under the hash oracle (r12 — retiring
    the codec's last fence, non-16-bit depths): depth cycles with
    doc_id %% 3 and sample magnitudes scale accordingly (|s| <= 120 /
    2000 / 500000). STREAMINFO declares the depth, every frame header
    carries the matching bit-depth code (a contradiction is a typed
    error), warm-ups/constants/verbatims code at the declared width,
    and the STREAMINFO MD5 is computed over the spec's little-endian
    ceil(bps/8)-byte packing — one/two/three bytes per sample — so a
    width or packing bug cannot pass. The oracle recomputes every
    sample in integer SQL. Heavy fan-out class like the other FLAC
    keys."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_flac_depth_batches)
    return payloads.mapInPandas(
        _flac_feature_batches,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, "
        "max_abs long, first_sample long, last_sample long",
    )


# --- PNG gray/RGBA decode (r11): real-world color types ---------------------

from sim_spark.ops.multimodal import decode_png_any, encode_png  # noqa: E402


def _gen_png_any_payload(doc_id: int) -> bytes:
    """Deterministic PNG alternating real-world color types: even docs
    are RGBA (web's transparency shape), odd docs grayscale. Byte
    (r, c, ch) = (5·doc_id + 7r + 11c + 23ch) % 256 — SQL-recomputable."""
    import numpy as np

    ch_n = 4 if doc_id % 2 == 0 else 1
    w, h = 4 + (doc_id % 9), 3 + (doc_id % 6)
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    ch = np.arange(ch_n, dtype=np.int64)[None, None, :]
    px = ((5 * doc_id + 7 * r + 11 * c + 23 * ch) % 256).astype(np.uint8)
    return encode_png(w, h, px.tobytes(), channels=ch_n)


_gen_png_any_batches = _make_gen_batches(_gen_png_any_payload)


def _png_any_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch_n, px = decode_png_any(bytes(payload))
            a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
            alpha = int(a.reshape(-1, ch_n)[:, 3].sum()) if ch_n == 4 else 0
            rows.append(
                (int(doc_id), w, h, ch_n, int(a.sum()), alpha,
                 int(a[: w * ch_n].sum()))
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "channels", "px_sum",
                     "alpha_sum", "top_row_sum"],
        ).astype("int64")


@query(
    "multimodal_png_rgba_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         4 + (doc_id % 9) AS w, 3 + (doc_id % 6) AS h,
         CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 1 END AS ch_n
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, ch_n, rr.r, cc.c, hh.ch,
         (5 * doc_id + 7 * rr.r + 11 * cc.c + 23 * hh.ch) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, ch_n)) AS ch) hh
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ch_n AS BIGINT) AS channels,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(CASE WHEN ch = 3 THEN val ELSE 0 END) AS BIGINT) AS alpha_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT) AS top_row_sum
FROM cells GROUP BY doc_id, w, h, ch_n
""",
)
def multimodal_png_rgba_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode across REAL-WORLD color types (r11, the interop
    completion like FLAC's LPC): even docs are RGBA (color type 6, the
    web's transparency shape), odd docs grayscale (type 0) — both
    through the same CRC-verified chunk walk, zlib inflate, and the
    five unfilter predictors whose left-neighbor offset is now the
    CHANNEL COUNT (a bpp-hardcoded unfilter decodes type-2 correctly
    and corrupts everything else; `top_row_sum`/`px_sum` break if it
    does). The oracle recomputes every byte from the formula with the
    per-parity channel count. Light fan-out class."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_png_any_batches)
    return payloads.mapInPandas(
        _png_any_feature_batches,
        "doc_id long, width long, height long, channels long, px_sum long, "
        "alpha_sum long, top_row_sum long",
    )


# --- PNG palette + Adam7 interlace decode (r12) ------------------------------

from sim_spark.ops.multimodal import encode_png_indexed  # noqa: E402


def _gen_png_pal7_payload(doc_id: int) -> bytes:
    """Deterministic PNG cycling the two shapes the r11 verdict listed
    as the remaining real-world PNG gap — palette (PLTE) color and
    Adam7 interlacing — plus their combination and an interlaced RGBA
    contrast: doc_id % 4 = 0 palette sequential, 1 RGB Adam7,
    2 palette+tRNS Adam7 (decodes to RGBA), 3 RGBA Adam7. All byte
    formulas SQL-recomputable: palette size P = 3 + doc%5; index(r,c) =
    (doc + 3r + 5c) % P; palette entry (e, ch) = (11·doc + 29e + 37ch)
    % 256; tRNS alpha(e) = (7·doc + 13e) % 256; truecolor byte
    (r, c, ch) = (5·doc + 7r + 11c + 23ch) % 256."""
    import numpy as np

    m = doc_id % 4
    w, h = 4 + (doc_id % 9), 3 + (doc_id % 6)
    if m in (1, 3):
        ch_n = 3 if m == 1 else 4
        r = np.arange(h, dtype=np.int64)[:, None, None]
        c = np.arange(w, dtype=np.int64)[None, :, None]
        ch = np.arange(ch_n, dtype=np.int64)[None, None, :]
        px = ((5 * doc_id + 7 * r + 11 * c + 23 * ch) % 256).astype(np.uint8)
        return encode_png(w, h, px.tobytes(), channels=ch_n, interlace=True)
    P = 3 + doc_id % 5
    pal = [
        tuple(int((11 * doc_id + 29 * e + 37 * ch) % 256) for ch in range(3))
        for e in range(P)
    ]
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((doc_id + 3 * r + 5 * c) % P).astype(np.uint8)
    trns = (
        [int((7 * doc_id + 13 * e) % 256) for e in range(P)] if m == 2 else None
    )
    return encode_png_indexed(
        w, h, idx.tobytes(), pal, trns=trns, interlace=(m == 2)
    )


_gen_png_pal7_batches = _make_gen_batches(_gen_png_pal7_payload)


@query(
    "multimodal_png_palette_adam7_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 4 AS m,
         4 + (doc_id % 9) AS w, 3 + (doc_id % 6) AS h,
         3 + (doc_id % 5) AS p,
         CASE WHEN doc_id % 4 IN (2, 3) THEN 4 ELSE 3 END AS ch_n
  FROM documents
),
cells AS (
  SELECT doc_id, m, w, h, ch_n, rr.r, cc.c, hh.ch,
         (doc_id + 3 * rr.r + 5 * cc.c) % p AS idx
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, ch_n)) AS ch) hh
),
vals AS (
  SELECT doc_id, w, h, ch_n, r, c, ch,
         CASE
           WHEN m IN (1, 3) THEN (5 * doc_id + 7 * r + 11 * c + 23 * ch) % 256
           WHEN ch < 3 THEN (11 * doc_id + 29 * idx + 37 * ch) % 256
           ELSE (7 * doc_id + 13 * idx) % 256
         END AS val
  FROM cells
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ch_n AS BIGINT) AS channels,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(CASE WHEN ch = 3 THEN val ELSE 0 END) AS BIGINT) AS alpha_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT) AS top_row_sum
FROM vals GROUP BY doc_id, w, h, ch_n
""",
)
def multimodal_png_palette_adam7_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Palette (PLTE/tRNS) and Adam7-interlaced PNG decode under the
    exact byte oracle (r12 — closing the r11 verdict's PNG fence):
    both shapes are pure reindexing/reordering, so the decoded pixels
    are integer-exact. One key cycles palette-sequential, RGB-Adam7,
    palette+tRNS-Adam7 (palette expansion promotes to RGBA), and
    RGBA-Adam7; the decoder walks CRC-verified chunks, deinterlaces
    the seven passes with per-pass filter-state resets, expands the
    palette, and applies tRNS alpha. The oracle recomputes every byte
    (palette indirection included) in integer SQL. Light fan-out class
    like the other PNG keys: Arrow-batched mapInPandas, no shuffle
    until the feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_png_pal7_batches)
    return payloads.mapInPandas(
        _png_any_feature_batches,
        "doc_id long, width long, height long, channels long, px_sum long, "
        "alpha_sum long, top_row_sum long",
    )


# --- GIF decode (r12): LZW container, interlace, transparency ----------------

from sim_spark.ops.gif import decode_gif, decode_gif_indices, encode_gif  # noqa: E402


def _gen_gif_payload(doc_id: int) -> bytes:
    """Deterministic GIF89a cycling the container's three real-world
    shapes: doc_id % 3 = 0 sequential opaque, 1 four-pass INTERLACED,
    2 sequential with a transparent palette entry (graphic control
    extension). All formulas SQL-recomputable: palette size
    P = 3 + doc%6; index(r,c) = (doc + 3r + 5c) % P; palette entry
    (e, ch) = (11·doc + 29e + 37ch) % 256; transparent index doc % P."""
    import numpy as np

    m = doc_id % 3
    w, h = 4 + (doc_id % 9), 3 + (doc_id % 6)
    P = 3 + doc_id % 6
    pal = [
        tuple(int((11 * doc_id + 29 * e + 37 * ch) % 256) for ch in range(3))
        for e in range(P)
    ]
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((doc_id + 3 * r + 5 * c) % P).astype(np.uint8)
    return encode_gif(
        w,
        h,
        idx.tobytes(),
        pal,
        transparent=(doc_id % P) if m == 2 else None,
        interlace=(m == 1),
    )


_gen_gif_batches = _make_gen_batches(_gen_gif_payload)


def _gif_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, rgb, transparent = decode_gif(bytes(payload))
            _, _, idx, _ = decode_gif_indices(bytes(payload))
            a = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
            img = a.reshape(h, w, 3)
            # row-weighted sum: px_sum alone is permutation-invariant,
            # so an interlace reorder bug would slip through it
            wrow = int((img.sum(axis=(1, 2)) * (np.arange(h) + 1)).sum())
            ix = np.frombuffer(idx, dtype=np.uint8)
            tn = int((ix == transparent).sum()) if transparent is not None else 0
            rows.append(
                (
                    int(doc_id),
                    w,
                    h,
                    int(a.sum()),
                    wrow,
                    int(img[0].sum()),
                    tn,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "px_sum", "wrow_sum",
                "top_row_sum", "transparent_n",
            ],
        ).astype("int64")


@query(
    "multimodal_gif_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 3 AS m,
         4 + (doc_id % 9) AS w, 3 + (doc_id % 6) AS h,
         3 + (doc_id % 6) AS p
  FROM documents
),
cells AS (
  SELECT doc_id, m, w, h, p, rr.r, cc.c,
         (doc_id + 3 * rr.r + 5 * cc.c) % p AS idx
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc
),
vals AS (
  SELECT doc_id, m, w, h, p, r, c, idx, hh.ch,
         (11 * doc_id + 29 * idx + 37 * hh.ch) % 256 AS val
  FROM cells, LATERAL (SELECT unnest(range(0, 3)) AS ch) hh
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum((r + 1) * val) AS BIGINT) AS wrow_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT)
         AS top_row_sum,
       CAST(sum(CASE WHEN m = 2 AND idx = doc_id % p AND ch = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS transparent_n
FROM vals GROUP BY doc_id, w, h
""",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF89a decode under the exact integer oracle (r12 — the last
    common crawled-image container the multimodal layer lacked). GIF
    is LOSSLESS (LZW over palette indices), so a from-scratch
    variable-width LZW decoder, the 255-byte sub-block walk, the
    4-pass interlace reorder, and the transparency extension all sit
    under the same hash oracle as the PNG keys: `wrow_sum` is
    row-weighted specifically because `px_sum` is permutation-
    invariant and would miss an interlace reorder bug, and
    `transparent_n` breaks if the graphic control extension is
    dropped. The oracle recomputes every expanded RGB byte (palette
    indirection included) in integer SQL. Light fan-out class:
    Arrow-batched mapInPandas over the round-robined id frame, no
    shuffle until the 7-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_gif_batches)
    return payloads.mapInPandas(
        _gif_feature_batches,
        "doc_id long, width long, height long, px_sum long, wrow_sum long, "
        "top_row_sum long, transparent_n long",
    )


# --- PNG bit depths (r12): 16-bit and sub-byte, the last PNG fence -----------

from sim_spark.ops.multimodal import decode_png_deep, encode_png_deep  # noqa: E402


def _gen_png_depth_payload(doc_id: int) -> bytes:
    """Deterministic PNG cycling the non-8-bit depths the spec allows
    (doc_id % 5): 0 = 16-bit grayscale sequential, 1 = 16-bit RGB
    Adam7, 2 = 4-bit grayscale sequential, 3 = 2-bit palette Adam7,
    4 = 1-bit grayscale Adam7. SQL-recomputable formulas: 16-bit
    sample (r, c, ch) = (5·doc + 257r + 263c + 1031ch) % 65536
    (grayscale uses ch = 0); 4-bit (doc + 3r + 5c) % 16; 1-bit
    (doc + r + c) % 2; palette size P = 3 + doc % 2 with index
    (doc + 3r + 5c) % P and entry (e, ch) = (11·doc + 29e + 37ch)
    % 256."""
    import numpy as np

    m = doc_id % 5
    w, h = 4 + (doc_id % 9), 3 + (doc_id % 6)
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    if m in (0, 1):
        ch_n = 1 if m == 0 else 3
        ch = np.arange(ch_n, dtype=np.int64)[None, None, :]
        s = (5 * doc_id + 257 * r + 263 * c + 1031 * ch) % 65536
        return encode_png_deep(
            w, h, s.ravel(), channels=ch_n, depth=16, interlace=(m == 1)
        )
    if m == 2:
        s = (doc_id + 3 * r[..., 0] + 5 * c[..., 0]) % 16
        return encode_png_deep(w, h, s.ravel(), channels=1, depth=4)
    if m == 4:
        s = (doc_id + r[..., 0] + c[..., 0]) % 2
        return encode_png_deep(
            w, h, s.ravel(), channels=1, depth=1, interlace=True
        )
    P = 3 + doc_id % 2
    pal = [
        tuple(int((11 * doc_id + 29 * e + 37 * ch) % 256) for ch in range(3))
        for e in range(P)
    ]
    idx = ((doc_id + 3 * r[..., 0] + 5 * c[..., 0]) % P).astype(np.uint8)
    return encode_png_indexed(
        w, h, idx.tobytes(), pal, interlace=True, depth=2
    )


_gen_png_depth_batches = _make_gen_batches(_gen_png_depth_payload)


def _png_depth_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch_n, depth, img = decode_png_deep(bytes(payload))
            wrow = int((img.sum(axis=(1, 2)) * (np.arange(h) + 1)).sum())
            rows.append(
                (
                    int(doc_id), w, h, ch_n, depth,
                    int(img.sum()), wrow, int(img[0].sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "channels", "depth",
                "px_sum", "wrow_sum", "top_row_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_png_depth_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 5 AS m,
         4 + (doc_id % 9) AS w, 3 + (doc_id % 6) AS h,
         3 + (doc_id % 2) AS p,
         CASE WHEN doc_id % 5 IN (1, 3) THEN 3 ELSE 1 END AS ch_n,
         CASE doc_id % 5 WHEN 0 THEN 16 WHEN 1 THEN 16 WHEN 2 THEN 4
                         WHEN 3 THEN 2 ELSE 1 END AS depth
  FROM documents
),
cells AS (
  SELECT doc_id, m, w, h, p, ch_n, depth, rr.r, cc.c, hh.ch,
         (doc_id + 3 * rr.r + 5 * cc.c) % p AS idx
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, ch_n)) AS ch) hh
),
vals AS (
  SELECT doc_id, w, h, ch_n, depth, r, c,
         CASE
           WHEN m IN (0, 1)
             THEN (5 * doc_id + 257 * r + 263 * c + 1031 * ch) % 65536
           WHEN m = 2 THEN (doc_id + 3 * r + 5 * c) % 16
           WHEN m = 4 THEN (doc_id + r + c) % 2
           ELSE (11 * doc_id + 29 * idx + 37 * ch) % 256
         END AS val
  FROM cells
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ch_n AS BIGINT) AS channels, CAST(depth AS BIGINT) AS depth,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum((r + 1) * val) AS BIGINT) AS wrow_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT)
         AS top_row_sum
FROM vals GROUP BY doc_id, w, h, ch_n, depth
""",
)
def multimodal_png_depth_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG bit-depth decode under the exact integer oracle (r12 —
    retiring the codec's LAST fence, non-8-bit depths): 16-bit
    grayscale and RGB (big-endian samples, filter offset 2·channels),
    4-bit and 1-bit grayscale, and 2-bit palette (MSB-first bit-packed
    scanlines with per-row padding, filter offset 1), three of the five
    shapes Adam7-INTERLACED so sub-byte unpacking composes with the
    seven-pass scatter. `wrow_sum` is row-weighted because `px_sum`
    alone is permutation-invariant and would miss a deinterlace bug;
    `px_sum` breaks on any bit-order, padding, or byte-endianness
    mistake. The oracle recomputes every sample in integer SQL. Light
    fan-out class: Arrow-batched mapInPandas, no shuffle until the
    feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_png_depth_batches)
    return payloads.mapInPandas(
        _png_depth_feature_batches,
        "doc_id long, width long, height long, channels long, depth long, "
        "px_sum long, wrow_sum long, top_row_sum long",
    )


# --- progressive COLOR JPEG (r12): the dominant real-world progressive shape -

from sim_spark.registry import ORACLES as _ORACLES  # noqa: E402
from sim_spark.ops.jpeg import (  # noqa: E402
    decode_jpeg_progressive_color,
    encode_jpeg_progressive_color_from_coeffs,
    formula_jpeg_color_coeffs,
)


def _gen_jpeg_prog_color_payload(doc_id: int) -> bytes:
    mx, my, y, cb, cr, _rst = formula_jpeg_color_coeffs(doc_id)
    return encode_jpeg_progressive_color_from_coeffs(mx, my, y, cb, cr)


_gen_jpeg_prog_color_batches = _make_gen_batches(_gen_jpeg_prog_color_payload)


def _jpeg_prog_color_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, rgb, (y, cb, cr) = decode_jpeg_progressive_color(
                bytes(payload)
            )

            def chk(c):
                b = np.arange(c.shape[0], dtype=np.int64)[:, None]
                z = np.arange(64, dtype=np.int64)[None, :]
                return int(((z + 64 * b) * c).sum())

            rows.append(
                (
                    int(doc_id), w, h, y.shape[0] // 4,
                    int(y[:, 0].sum()), int(cb[:, 0].sum()), int(cr[:, 0].sum()),
                    int((y[:, 1:] != 0).sum() + (cb[:, 1:] != 0).sum()
                        + (cr[:, 1:] != 0).sum()),
                    chk(y), chk(cb), chk(cr),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_mcus", "y_dc_sum",
                     "cb_dc_sum", "cr_dc_sum", "ac_nonzero",
                     "y_checksum", "cb_checksum", "cr_checksum"],
        ).astype("int64")


@query(
    "multimodal_jpeg_progressive_color_decode",
    # the entropy layer is lossless whatever the scan structure, so the
    # recovered coefficients — and therefore the oracle — are literally
    # the baseline color key's
    oracle=_ORACLES["multimodal_jpeg_color_decode"],
)
def multimodal_jpeg_progressive_color_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Progressive (SOF2) COLOR JPEG decode end-to-end (r12 — closing
    the 'progressive color' fence the grayscale SOF2 key left): the
    baseline color key's per-component coefficient formula re-encoded
    as a ten-scan progressive stream — an INTERLEAVED 3-component DC
    first scan (the only multi-component shape T.81 allows in
    progressive mode; per-component predictors in MCU order) + its
    interleaved refine, then per-component NON-interleaved AC band
    scans in each component's own raster order (a layout genuinely
    different from the MCU order, so an index-mapping bug between the
    two walks cannot cancel), successive approximation Al 1 -> 0
    throughout, distinct luma/chroma table slots. Decoded through the
    full multi-scan walk; reconstruction shares the baseline color
    decoder's code. Three independent per-plane position-weighted
    checksums hash-match the SAME integer-SQL oracle as
    multimodal_jpeg_color_decode. Heavy fan-out class like the other
    JPEG keys."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_prog_color_batches)
    return payloads.mapInPandas(
        _jpeg_prog_color_feature_batches,
        "doc_id long, width long, height long, n_mcus long, y_dc_sum long, "
        "cb_dc_sum long, cr_dc_sum long, ac_nonzero long, y_checksum long, "
        "cb_checksum long, cr_checksum long",
    )


# --- ID3v2-tagged MP3 (r12): the shape real-world MP3 files take -------------

from sim_spark.ops.mp3 import gen_mp3_id3_payload, parse_mp3  # noqa: E402

_gen_mp3_id3_batches = _make_gen_batches(gen_mp3_id3_payload)


def _mp3_id3_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            prof = parse_mp3(bytes(payload))
            tags = prof["id3"]
            rows.append(
                (
                    int(doc_id),
                    tags["_version"],
                    prof["id3_bytes"],
                    sum(tags["TIT2"].encode("latin-1")),
                    sum(tags["TPE1"].encode("latin-1")),
                    int(tags["TRCK"]),
                    int(tags["TLEN"]),
                    prof["n_frames"],
                    prof["duration_us"],
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "tag_version", "tag_bytes", "title_sum",
                "artist_sum", "track", "tlen_ms", "n_frames", "duration_us",
            ],
        ).astype("int64")


@query(
    "multimodal_mp3_id3_parse",
    oracle="""
WITH p AS (
  SELECT doc_id, 3 + doc_id % 6 AS nf,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS sr,
         'doc-' || CAST(doc_id AS VARCHAR) AS title_s,
         'author-' || CAST(doc_id % 97 AS VARCHAR) AS artist_s,
         CAST(doc_id % 20 + 1 AS VARCHAR) AS track_s
  FROM documents
),
q AS (
  SELECT *, CAST(nf * 1152 * 1000 // sr AS VARCHAR) AS tlen_s FROM p
),
tsum AS (
  SELECT doc_id, SUM(ascii(substr(title_s, ii.i + 1, 1))) AS title_sum
  FROM q, LATERAL (SELECT unnest(range(0, length(title_s))) AS i) ii
  GROUP BY doc_id
),
asum AS (
  SELECT doc_id, SUM(ascii(substr(artist_s, ii.i + 1, 1))) AS artist_sum
  FROM q, LATERAL (SELECT unnest(range(0, length(artist_s))) AS i) ii
  GROUP BY doc_id
)
SELECT q.doc_id,
       CAST(3 + q.doc_id % 2 AS BIGINT) AS tag_version,
       CAST(10 + (10 + 1 + length(title_s)) + (10 + 1 + length(artist_s))
            + (10 + 1 + length(track_s)) + (10 + 1 + length(tlen_s))
            + q.doc_id % 7 AS BIGINT) AS tag_bytes,
       CAST(tsum.title_sum AS BIGINT) AS title_sum,
       CAST(asum.artist_sum AS BIGINT) AS artist_sum,
       CAST(q.doc_id % 20 + 1 AS BIGINT) AS track,
       CAST(nf * 1152 * 1000 // sr AS BIGINT) AS tlen_ms,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * 1152 * 1000000 // sr AS BIGINT) AS duration_us
FROM q
JOIN tsum ON q.doc_id = tsum.doc_id
JOIN asum ON q.doc_id = asum.doc_id
""",
)
def multimodal_mp3_id3_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2-tagged MP3 parse (r12): virtually every real-world MP3
    leads with an ID3v2 tag, so the frame walk must skip it by its
    syncsafe declared size and the metadata a curation pipeline wants
    (title/artist/track/declared length) lives in its text frames.
    The fixture cycles ID3v2.3 (plain big-endian frame sizes) and
    v2.4 (SYNCSAFE frame sizes — the classic interop trap), latin-1
    and utf-8 text encodings, and declared padding; TLEN cross-checks
    the frame walk's exact duration, and the Xing byte-count check now
    correctly excludes the tag. Byte sums of the decoded text and the
    exact total tag size hash-match integer SQL. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_mp3_id3_batches)
    return payloads.mapInPandas(
        _mp3_id3_feature_batches,
        "doc_id long, tag_version long, tag_bytes long, title_sum long, "
        "artist_sum long, track long, tlen_ms long, n_frames long, "
        "duration_us long",
    )


# --- multi-member gzip walk (r12): the WARC/WET crawl-archive shape ----------

from sim_spark.ops.gzf import encode_gzip_members, parse_gzip_members  # noqa: E402


def _gen_gzip_members_payload(doc_id: int) -> bytes:
    """Deterministic multi-member gzip: n = 1 + doc%4 members; member m
    content byte j = (7·doc + 13m + 3j) % 95 + 32 (printable ASCII)
    with length 40 + (doc + 17m) % 40; FNAME 'rec-<doc>-<m>' on even
    members; encoder adds FEXTRA every third member and FHCRC every
    second — all SQL-recomputable."""
    n = 1 + doc_id % 4
    members = []
    for m in range(n):
        ln = 40 + (doc_id + 17 * m) % 40
        content = bytes(
            (7 * doc_id + 13 * m + 3 * j) % 95 + 32 for j in range(ln)
        )
        name = f"rec-{doc_id}-{m}" if m % 2 == 0 else None
        members.append((name, content))
    return encode_gzip_members(members)


_gen_gzip_batches = _make_gen_batches(_gen_gzip_members_payload)


def _gzip_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs = parse_gzip_members(bytes(payload))
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    sum(len(r["content"]) for r in recs),
                    sum(sum(r["content"]) for r in recs),
                    sum(
                        sum(r["name"].encode("latin-1"))
                        for r in recs
                        if r["name"] is not None
                    ),
                    sum(r["header_bytes"] for r in recs),
                    sum(r["mtime"] for r in recs),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_members", "total_len", "content_sum",
                "names_sum", "header_sum", "mtime_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_gzip_member_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 4 AS n FROM documents
),
mem AS (
  SELECT doc_id, n, mm.m,
         40 + (doc_id + 17 * mm.m) % 40 AS ln,
         CASE WHEN mm.m % 2 = 0
              THEN 'rec-' || CAST(doc_id AS VARCHAR) || '-'
                   || CAST(mm.m AS VARCHAR) END AS name
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS m) mm
),
csum AS (
  SELECT doc_id, m,
         SUM((7 * doc_id + 13 * m + 3 * jj.j) % 95 + 32) AS c_sum
  FROM mem, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id, m
),
nsum AS (
  SELECT mem.doc_id, SUM(ascii(substr(name, ii.i + 1, 1))) AS name_sum
  FROM mem, LATERAL (SELECT unnest(range(0, length(name))) AS i) ii
  WHERE name IS NOT NULL GROUP BY mem.doc_id
),
hdr AS (
  SELECT doc_id, m,
         10 + CASE WHEN m % 3 = 0 THEN 10 ELSE 0 END
            + CASE WHEN m % 2 = 0 THEN length(name) + 1 + 2 ELSE 0 END
           AS h
  FROM mem
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_members,
       CAST((SELECT SUM(ln) FROM mem WHERE mem.doc_id = p.doc_id)
            AS BIGINT) AS total_len,
       CAST((SELECT SUM(c_sum) FROM csum WHERE csum.doc_id = p.doc_id)
            AS BIGINT) AS content_sum,
       CAST(COALESCE((SELECT name_sum FROM nsum
                      WHERE nsum.doc_id = p.doc_id), 0)
            AS BIGINT) AS names_sum,
       CAST((SELECT SUM(h) FROM hdr WHERE hdr.doc_id = p.doc_id)
            AS BIGINT) AS header_sum,
       CAST((SELECT SUM(m * 1000003) FROM mem WHERE mem.doc_id = p.doc_id)
            AS BIGINT) AS mtime_sum
FROM p
""",
)
def multimodal_gzip_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-member gzip container walk (r12) — the WARC/WET shape
    crawl archives take (one independently-deflated member per record,
    concatenated): ops/gzf.py walks RFC 1952 headers (FTEXT/FHCRC/
    FEXTRA/FNAME optional fields, header CRC16), inflates each member
    with raw-deflate zlib, recovers member boundaries from the
    decompressor's unused tail, and verifies per-member CRC32 + ISIZE
    — a single flipped content byte is a typed error. The fixture
    cycles member counts, FNAME presence, FEXTRA subfields, and FHCRC;
    the oracle recomputes member lengths, content byte sums, name
    ascii sums, exact per-member header sizes, and MTIME sums in
    integer SQL. Light fan-out class: Arrow-batched mapInPandas, no
    shuffle until the 7-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_gzip_batches)
    return payloads.mapInPandas(
        _gzip_feature_batches,
        "doc_id long, n_members long, total_len long, content_sum long, "
        "names_sum long, header_sum long, mtime_sum long",
    )


# --- tar (ustar) walk (r12): the WebDataset training-shard shape -------------

from sim_spark.ops.tarwalk import encode_tar, parse_tar  # noqa: E402


def _gen_tar_payload(doc_id: int) -> bytes:
    """Deterministic WebDataset-style shard: 1 + doc%3 samples, each a
    ('s<doc>-<k>.txt', formula text) + ('s<doc>-<k>.cls', class digit)
    member pair; txt byte j = (5·doc + 7k + 3j) % 95 + 32 with length
    30 + (doc + 11k) % 50; class = (doc + k) % 10; mtime = 100·doc + k
    — all SQL-recomputable."""
    ns = 1 + doc_id % 3
    members = []
    for k in range(ns):
        ln = 30 + (doc_id + 11 * k) % 50
        txt = bytes((5 * doc_id + 7 * k + 3 * j) % 95 + 32 for j in range(ln))
        members.append((f"s{doc_id}-{k}.txt", txt, 100 * doc_id + k))
        members.append(
            (f"s{doc_id}-{k}.cls", str((doc_id + k) % 10).encode(),
             100 * doc_id + k)
        )
    return encode_tar(members)


_gen_tar_batches = _make_gen_batches(_gen_tar_payload)


def _tar_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs = parse_tar(bytes(payload))
            txt = [r for r in recs if r["name"].endswith(".txt")]
            cls = [r for r in recs if r["name"].endswith(".cls")]
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    sum(r["size"] for r in recs),
                    sum(sum(r["content"]) for r in txt),
                    sum(int(r["content"]) for r in cls),
                    sum(sum(r["name"].encode()) for r in recs),
                    sum(r["mtime"] for r in recs),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_members", "total_size", "txt_sum", "cls_sum",
                "names_sum", "mtime_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_tar_webdataset_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents
),
sm AS (
  SELECT doc_id, ns, kk.k,
         30 + (doc_id + 11 * kk.k) % 50 AS ln,
         's' || CAST(doc_id AS VARCHAR) || '-' || CAST(kk.k AS VARCHAR)
           AS stem
  FROM p, LATERAL (SELECT unnest(range(0, ns)) AS k) kk
),
tsum AS (
  SELECT doc_id, k, SUM((5 * doc_id + 7 * k + 3 * jj.j) % 95 + 32) AS t
  FROM sm, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id, k
),
nsum AS (
  SELECT sm.doc_id,
         SUM(ascii(substr(stem || '.txt', ii.i + 1, 1))
             + ascii(substr(stem || '.cls', ii.i + 1, 1))) AS ns_shared,
         MAX(length(stem)) AS sl
  FROM sm, LATERAL (
    SELECT unnest(range(0, length(stem) + 4)) AS i
  ) ii
  GROUP BY sm.doc_id
)
SELECT p.doc_id,
       CAST(2 * p.ns AS BIGINT) AS n_members,
       CAST((SELECT SUM(ln) + COUNT(*) FROM sm WHERE sm.doc_id = p.doc_id)
            AS BIGINT) AS total_size,
       CAST((SELECT SUM(t) FROM tsum WHERE tsum.doc_id = p.doc_id)
            AS BIGINT) AS txt_sum,
       CAST((SELECT SUM((p.doc_id + k) % 10) FROM sm
             WHERE sm.doc_id = p.doc_id) AS BIGINT) AS cls_sum,
       CAST((SELECT ns_shared FROM nsum WHERE nsum.doc_id = p.doc_id)
            AS BIGINT) AS names_sum,
       CAST((SELECT SUM(2 * (100 * p.doc_id + k)) FROM sm
             WHERE sm.doc_id = p.doc_id) AS BIGINT) AS mtime_sum
FROM p
""",
)
def multimodal_tar_webdataset_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSIX ustar walk (r12) — WebDataset, the de-facto sharding
    format for multimodal training corpora, is plain tar read
    sequentially as (sample.txt, sample.cls, ...) member pairs.
    ops/tarwalk.py walks 512-byte ustar headers (octal size/mtime
    fields, per-member header CHECKSUM verified — a single flipped
    name byte is a typed error), block-aligned data, and the required
    two-zero-block EOF trailer; stdlib tarfile cross-checks the
    encoder in tests. The oracle recomputes member counts, sizes,
    text-byte sums, class labels, name ascii sums, and mtimes in
    integer SQL. Light fan-out class: Arrow-batched mapInPandas, no
    shuffle until the 7-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_tar_batches)
    return payloads.mapInPandas(
        _tar_feature_batches,
        "doc_id long, n_members long, total_size long, txt_sum long, "
        "cls_sum long, names_sum long, mtime_sum long",
    )


# --- TIFF decode (r12): scanned-document container, PackBits + TIFF-LZW ------

from sim_spark.ops.tiff import decode_tiff, encode_tiff  # noqa: E402


def _gen_tiff_payload(doc_id: int) -> bytes:
    """Deterministic baseline TIFF cycling the container's real-world
    axes: compression none / TIFF-LZW / PackBits (doc % 3), little vs
    BIG endian (doc % 6 >= 3), grayscale vs RGB (doc % 2), multi-strip
    (rows_per_strip 1 + doc % 4). Pixel (r, c, k) =
    (5·doc + 7r + 11c + 23k) % 256 — SQL-recomputable."""
    import numpy as np

    w, h = 4 + (doc_id % 9), 3 + (doc_id % 6)
    ch_n = 3 if doc_id % 2 else 1
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(ch_n, dtype=np.int64)[None, None, :]
    px = ((5 * doc_id + 7 * r + 11 * c + 23 * k) % 256).astype(np.uint8)
    return encode_tiff(
        w,
        h,
        px.tobytes(),
        channels=ch_n,
        compression=[1, 5, 32773][doc_id % 3],
        big_endian=(doc_id % 6) >= 3,
        rows_per_strip=1 + doc_id % 4,
    )


_gen_tiff_batches = _make_gen_batches(_gen_tiff_payload)


def _tiff_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, ch_n, px = decode_tiff(bytes(payload))
            a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
            img = a.reshape(h, w, ch_n)
            wrow = int((img.sum(axis=(1, 2)) * (np.arange(h) + 1)).sum())
            rows.append(
                (
                    int(doc_id), w, h, ch_n, int(doc_id % 3),
                    int((doc_id % 6) >= 3), int(a.sum()), wrow,
                    int(img[0].sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "channels", "comp_kind",
                "big_endian", "px_sum", "wrow_sum", "top_row_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_tiff_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         4 + (doc_id % 9) AS w, 3 + (doc_id % 6) AS h,
         CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS ch_n
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, ch_n, rr.r, cc.c,
         (5 * doc_id + 7 * rr.r + 11 * cc.c + 23 * kk.k) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, ch_n)) AS k) kk
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ch_n AS BIGINT) AS channels,
       CAST(doc_id % 3 AS BIGINT) AS comp_kind,
       CAST(CASE WHEN doc_id % 6 >= 3 THEN 1 ELSE 0 END AS BIGINT)
         AS big_endian,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum((r + 1) * val) AS BIGINT) AS wrow_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT)
         AS top_row_sum
FROM cells GROUP BY doc_id, w, h, ch_n
""",
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF decode (r12) — the scanned-document container:
    endian-tagged IFD walk (II and MM both occur in the fixture),
    multi-strip layout with offset/count arrays, and the two classic
    baseline compressions — PackBits RLE and TIFF-variant LZW
    (MSB-first code packing with the EARLY width change at 2^w - 1,
    both deliberately opposite to GIF's LSB-first/late-change variant;
    having the two LZW dialects under one oracle pins the distinction
    a generic 'LZW' implementation gets wrong). `wrow_sum` is
    row-weighted so a strip-ordering bug cannot cancel. The oracle
    recomputes every byte in integer SQL. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_tiff_batches)
    return payloads.mapInPandas(
        _tiff_feature_batches,
        "doc_id long, width long, height long, channels long, "
        "comp_kind long, big_endian long, px_sum long, wrow_sum long, "
        "top_row_sum long",
    )


# --- ZIP walk (r12): the dataset-distribution container ----------------------

from sim_spark.ops.zipwalk import encode_zip, parse_zip  # noqa: E402


def _gen_zip_payload(doc_id: int) -> bytes:
    """Deterministic ZIP: n = 1 + doc%4 members named 'f<doc>-<m>.txt',
    content byte j = (11·doc + 17m + 3j) % 95 + 32 with length
    35 + (doc + 13m) % 45, odd members DEFLATED / even STORED — all
    SQL-recomputable."""
    n = 1 + doc_id % 4
    members = []
    for m in range(n):
        ln = 35 + (doc_id + 13 * m) % 45
        content = bytes(
            (11 * doc_id + 17 * m + 3 * j) % 95 + 32 for j in range(ln)
        )
        members.append((f"f{doc_id}-{m}.txt", content, bool(m % 2)))
    return encode_zip(members)


_gen_zip_batches = _make_gen_batches(_gen_zip_payload)


def _zip_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs = parse_zip(bytes(payload))
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    sum(len(r["content"]) for r in recs),
                    sum(sum(r["content"]) for r in recs),
                    sum(sum(r["name"].encode()) for r in recs),
                    sum(1 for r in recs if r["method"] == 8),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_members", "total_len", "content_sum",
                "names_sum", "n_deflated",
            ],
        ).astype("int64")


@query(
    "multimodal_zip_member_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 4 AS n FROM documents
),
mem AS (
  SELECT doc_id, n, mm.m,
         35 + (doc_id + 13 * mm.m) % 45 AS ln,
         'f' || CAST(doc_id AS VARCHAR) || '-'
             || CAST(mm.m AS VARCHAR) || '.txt' AS name
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS m) mm
),
csum AS (
  SELECT doc_id, m,
         SUM((11 * doc_id + 17 * m + 3 * jj.j) % 95 + 32) AS c_sum
  FROM mem, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id, m
),
nsum AS (
  SELECT mem.doc_id, SUM(ascii(substr(name, ii.i + 1, 1))) AS name_sum
  FROM mem, LATERAL (SELECT unnest(range(0, length(name))) AS i) ii
  GROUP BY mem.doc_id
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_members,
       CAST((SELECT SUM(ln) FROM mem WHERE mem.doc_id = p.doc_id)
            AS BIGINT) AS total_len,
       CAST((SELECT SUM(c_sum) FROM csum WHERE csum.doc_id = p.doc_id)
            AS BIGINT) AS content_sum,
       CAST((SELECT name_sum FROM nsum WHERE nsum.doc_id = p.doc_id)
            AS BIGINT) AS names_sum,
       CAST((SELECT COUNT(*) FROM mem
             WHERE mem.doc_id = p.doc_id AND m % 2 = 1)
            AS BIGINT) AS n_deflated
FROM p
""",
)
def multimodal_zip_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP container walk (r12) — how datasets are actually
    distributed. The parser does what naive readers skip: discovers
    the end-of-central-directory record by scanning BACKWARD (past an
    optional archive comment), treats the CENTRAL directory as
    authoritative, cross-validates each local header against its
    central entry, inflates method-8 members with raw-deflate zlib,
    and verifies CRC32 + both sizes per member — one flipped byte is
    a typed error. Interop is tested in BOTH directions against
    stdlib zipfile (it reads our archives; we read its, comments
    included). The fixture alternates stored and deflated members;
    the oracle recomputes member counts, lengths, content/name byte
    sums, and the deflate count in integer SQL. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_zip_batches)
    return payloads.mapInPandas(
        _zip_feature_batches,
        "doc_id long, n_members long, total_len long, content_sum long, "
        "names_sum long, n_deflated long",
    )


# --- WARC/1.0 record parse (r13): inside the crawl-archive members -----------

from sim_spark.ops.warc import encode_warc_records, parse_warc_records  # noqa: E402


def _gen_warc_gz_payload(doc_id: int) -> bytes:
    """Deterministic warc.gz: n = 1 + doc%3 records, ONE gzip member per
    record (the real CommonCrawl layout — members are record-aligned so
    readers can split). Record r: type cycles response/request/metadata;
    Target-URI 'http://ex-<doc>.org/p/<r>' on response/request; block
    byte j = (11·doc + 5r + 3j) % 95 + 32 with length 50 + (doc+13r)%60;
    WARC-Date minute doc%60, second (7r)%60 — all SQL-recomputable."""
    n = 1 + doc_id % 3
    members = []
    for r in range(n):
        rtype = ("response", "request", "metadata")[r % 3]
        ln = 50 + (doc_id + 13 * r) % 60
        content = bytes(
            (11 * doc_id + 5 * r + 3 * j) % 95 + 32 for j in range(ln)
        )
        rec = dict(
            type=rtype,
            record_id=f"<urn:uuid:{doc_id:08d}-{r:04d}>",
            date=f"2024-01-01T00:{doc_id % 60:02d}:{(7 * r) % 60:02d}Z",
            content=content,
            content_type=(
                "application/http" if rtype != "metadata" else "text/plain"
            ),
        )
        if rtype != "metadata":
            rec["target_uri"] = f"http://ex-{doc_id}.org/p/{r}"
        members.append((None, encode_warc_records([rec])))
    return encode_gzip_members(members)


_gen_warc_batches = _make_gen_batches(_gen_warc_gz_payload)


def _warc_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs = []
            for mem in parse_gzip_members(bytes(payload)):
                recs.extend(parse_warc_records(mem["content"]))
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    sum(1 for r in recs if r["type"] == "response"),
                    sum(r["content_length"] for r in recs),
                    sum(sum(r["content"]) for r in recs),
                    sum(
                        sum(r["target_uri"].encode("latin-1"))
                        for r in recs
                        if r["target_uri"] is not None
                    ),
                    sum(r["header_bytes"] for r in recs),
                    sum(
                        int(r["date"][14:16]) * 60 + int(r["date"][17:19])
                        for r in recs
                    ),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_records", "n_response", "content_total",
                "payload_sum", "uri_sum", "header_sum", "date_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_warc_record_parse",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS n FROM documents
),
rec AS (
  SELECT doc_id, n, rr.r,
         CASE rr.r % 3 WHEN 0 THEN 'response'
                       WHEN 1 THEN 'request'
                       ELSE 'metadata' END AS rtype,
         50 + (doc_id + 13 * rr.r) % 60 AS ln,
         CASE WHEN rr.r % 3 < 2
              THEN 'http://ex-' || CAST(doc_id AS VARCHAR) || '.org/p/'
                   || CAST(rr.r AS VARCHAR) END AS uri
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS r) rr
),
csum AS (
  SELECT doc_id, r,
         SUM((11 * doc_id + 5 * r + 3 * jj.j) % 95 + 32) AS c_sum
  FROM rec, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id, r
),
usum AS (
  SELECT rec.doc_id, SUM(ascii(substr(uri, ii.i + 1, 1))) AS uri_sum
  FROM rec, LATERAL (SELECT unnest(range(0, length(uri))) AS i) ii
  WHERE uri IS NOT NULL GROUP BY rec.doc_id
),
hdr AS (
  SELECT doc_id, r,
         10
         + 11 + length(rtype) + 2
         + 42
         + 33
         + CASE WHEN uri IS NOT NULL THEN 17 + length(uri) + 2 ELSE 0 END
         + 14 + CASE WHEN rtype = 'metadata' THEN 10 ELSE 16 END + 2
         + 16 + length(CAST(ln AS VARCHAR)) + 2
         + 2 AS h
  FROM rec
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_records,
       CAST((SELECT COUNT(*) FROM rec
             WHERE rec.doc_id = p.doc_id AND rtype = 'response')
            AS BIGINT) AS n_response,
       CAST((SELECT SUM(ln) FROM rec WHERE rec.doc_id = p.doc_id)
            AS BIGINT) AS content_total,
       CAST((SELECT SUM(c_sum) FROM csum WHERE csum.doc_id = p.doc_id)
            AS BIGINT) AS payload_sum,
       CAST(COALESCE((SELECT uri_sum FROM usum
                      WHERE usum.doc_id = p.doc_id), 0)
            AS BIGINT) AS uri_sum,
       CAST((SELECT SUM(h) FROM hdr WHERE hdr.doc_id = p.doc_id)
            AS BIGINT) AS header_sum,
       CAST((SELECT SUM((doc_id % 60) * 60 + (7 * r) % 60)
             FROM rec WHERE rec.doc_id = p.doc_id)
            AS BIGINT) AS date_sum
FROM p
""",
)
def multimodal_warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/1.0 record parse (r13) — the layer INSIDE ops/gzf.py's
    members and the actual first operator of every CommonCrawl-style
    curation run: version line, named header fields with RFC-822
    continuation folding, mandatory-field enforcement (WARC-Type /
    Record-ID / Date / Content-Length), Content-Length block framing
    (never separator-scanning — blocks are opaque), double-CRLF
    trailer verification, and record-type dispatch with the spec's
    Target-URI applicability table. The fixture is the real warc.gz
    layout (one gzip member per record, record-aligned for split
    reads); the oracle recomputes record counts, type dispatch,
    declared lengths, block byte sums, Target-URI ascii sums, EXACT
    per-record header byte sizes, and date-field arithmetic in
    integer/string SQL — a one-byte framing error in the parser
    shifts header_sum/payload_sum and hash-mismatches. Light fan-out
    class: Arrow-batched mapInPandas, no shuffle until the 8-column
    feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_warc_batches)
    return payloads.mapInPandas(
        _warc_feature_batches,
        "doc_id long, n_records long, n_response long, content_total long, "
        "payload_sum long, uri_sum long, header_sum long, date_sum long",
    )


# --- MP4 / ISO-BMFF box walk (r13): the video-shard container -----------------

from sim_spark.ops.mp4 import encode_mp4_meta, parse_mp4_meta  # noqa: E402


def _gen_mp4_payload(doc_id: int) -> bytes:
    """Deterministic ISO-BMFF shard: nb = 1 + doc%3 compatible brands
    'mp4<digit>'; mvhd timescale 600·(1 + doc%5), duration
    1000 + 37·doc % 500000, version 1 on every third doc (64-bit
    times); nt = 1 + doc%3 tracks alternating vide/soun with
    5 + (doc+7k)%20 samples of size 100 + (doc+5k+3j)%200 and
    video resolution (320 + doc%4·160) × (240 + doc%4·120); mdat of
    20 + doc%50 bytes behind a 64-bit largesize on odd docs — all
    SQL-recomputable."""
    nb = 1 + doc_id % 3
    brands = ["mp4" + chr(48 + (doc_id + k) % 10) for k in range(nb)]
    ts = 600 * (1 + doc_id % 5)
    duration = 1000 + (37 * doc_id) % 500000
    nt = 1 + doc_id % 3
    tracks = []
    for k in range(nt):
        vide = k % 2 == 0
        ns = 5 + (doc_id + 7 * k) % 20
        tracks.append(
            dict(
                handler="vide" if vide else "soun",
                timescale=90000 if vide else 48000,
                duration=100 * (doc_id % 50 + k + 1),
                sample_sizes=[
                    100 + (doc_id + 5 * k + 3 * j) % 200 for j in range(ns)
                ],
                width=320 + (doc_id % 4) * 160 if vide else 0,
                height=240 + (doc_id % 4) * 120 if vide else 0,
            )
        )
    ln = 20 + doc_id % 50
    mdat = bytes((3 * doc_id + 7 * j) % 256 for j in range(ln))
    return encode_mp4_meta(
        "isom",
        doc_id % 1000,
        brands,
        ts,
        duration,
        tracks,
        mdat=mdat,
        mvhd_v1=doc_id % 3 == 0,
        mdat_large=doc_id % 2 == 1,
    )


_gen_mp4_batches = _make_gen_batches(_gen_mp4_payload)


def _mp4_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            m = parse_mp4_meta(bytes(payload))
            rows.append(
                (
                    int(doc_id),
                    len(m["tracks"]),
                    sum(1 for t in m["tracks"] if t["handler"] == "vide"),
                    m["duration"] * 1000 // m["timescale"],
                    sum(t["n_samples"] for t in m["tracks"]),
                    sum(t["sample_bytes"] for t in m["tracks"]),
                    sum(t["width"] for t in m["tracks"]),
                    sum(t["height"] for t in m["tracks"]),
                    m["mdat_bytes"],
                    sum(sum(b.encode("ascii")) for b in
                        m["compatible_brands"]),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_tracks", "n_video", "dur_ms", "total_samples",
                "sample_bytes", "width_sum", "height_sum", "mdat_bytes",
                "brand_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_mp4_box_walk",
    oracle="""
WITH p AS (
  SELECT doc_id,
         1 + doc_id % 3 AS nt,
         600 * (1 + doc_id % 5) AS ts,
         1000 + (37 * doc_id) % 500000 AS duration
  FROM documents
),
trk AS (
  SELECT doc_id, kk.k,
         5 + (doc_id + 7 * kk.k) % 20 AS ns,
         CASE WHEN kk.k % 2 = 0 THEN 1 ELSE 0 END AS vide
  FROM p, LATERAL (SELECT unnest(range(0, nt)) AS k) kk
),
ssum AS (
  SELECT doc_id, k,
         SUM(100 + (doc_id + 5 * k + 3 * jj.j) % 200) AS s_bytes
  FROM trk, LATERAL (SELECT unnest(range(0, ns)) AS j) jj
  GROUP BY doc_id, k
),
bsum AS (
  SELECT p.doc_id,
         SUM(ascii('m') + ascii('p') + ascii('4')
             + 48 + (p.doc_id + kk.k) % 10) AS b_sum
  FROM p, LATERAL (SELECT unnest(range(0, 1 + p.doc_id % 3)) AS k) kk
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       CAST(p.nt AS BIGINT) AS n_tracks,
       CAST((p.nt + 1) // 2 AS BIGINT) AS n_video,
       CAST(p.duration * 1000 // p.ts AS BIGINT) AS dur_ms,
       CAST((SELECT SUM(ns) FROM trk WHERE trk.doc_id = p.doc_id)
            AS BIGINT) AS total_samples,
       CAST((SELECT SUM(s_bytes) FROM ssum WHERE ssum.doc_id = p.doc_id)
            AS BIGINT) AS sample_bytes,
       CAST((SELECT SUM(vide * (320 + (p.doc_id % 4) * 160))
             FROM trk WHERE trk.doc_id = p.doc_id)
            AS BIGINT) AS width_sum,
       CAST((SELECT SUM(vide * (240 + (p.doc_id % 4) * 120))
             FROM trk WHERE trk.doc_id = p.doc_id)
            AS BIGINT) AS height_sum,
       CAST(20 + p.doc_id % 50 AS BIGINT) AS mdat_bytes,
       CAST((SELECT b_sum FROM bsum WHERE bsum.doc_id = p.doc_id)
            AS BIGINT) AS brand_sum
FROM p
""",
)
def multimodal_mp4_box_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF box walk (r13) — closes the video column of the
    container matrix. A curation pipeline reads video CONTAINER
    metadata (brand, movie duration/timescale, per-track handler,
    sample counts/bytes, resolution), never the codec bitstream
    (documented decode fence, ops/multimodal.py): ops/mp4.py walks
    the box tree with 32-bit and 64-bit (largesize) lengths,
    unknown-box skip at every level (stsd stays opaque), version-0/1
    full boxes (the 64-bit-time branch every long recording takes),
    16.16 fixed-point tkhd resolution, stsz fixed-vs-table sample
    sizes, and an stts/stsz sample-count cross-check. The fixture
    cycles brand counts, mvhd versions, track counts, and largesize
    mdat; the oracle recomputes every feature in integer SQL — a
    mis-walked box length shifts all downstream fields and
    hash-mismatches. Light fan-out class: Arrow-batched mapInPandas,
    no shuffle until the 10-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_mp4_batches)
    return payloads.mapInPandas(
        _mp4_feature_batches,
        "doc_id long, n_tracks long, n_video long, dur_ms long, "
        "total_samples long, sample_bytes long, width_sum long, "
        "height_sum long, mdat_bytes long, brand_sum long",
    )


# --- ID3v2 unsync + APIC cover-art extraction (r13) ---------------------------

from sim_spark.ops.mp3 import encode_id3v2, gen_mp3_payload  # noqa: E402


def _gen_mp3_apic_payload(doc_id: int) -> bytes:
    """ID3v2-tagged stream whose tag carries the two real-world
    features r12's parser did not: v2.3 tag-wide UNSYNCHRONISATION
    (byte stuffing — the PNG cover art is full of 0xFF, so a missed
    unstuff corrupts the zlib stream and the decode fails typed) and
    an APIC frame embedding deterministic cover art
    (gen_png_twin_payload's formula pixels). Even docs: v2.3 +
    unsync (+ ext header on doc%3==0, padding doc%5); odd docs:
    v2.4 (+ footer on doc%4==3, which excludes padding) — all
    SQL-recomputable."""
    version = 3 + doc_id % 2
    unsync = version == 3
    footer = version == 4 and doc_id % 4 == 3
    tag = encode_id3v2(
        [
            ("TIT2", f"t-{doc_id}"),
            ("APIC", ("image/png", doc_id % 21, f"cover-{doc_id % 50}",
                      gen_png_twin_payload(doc_id))),
        ],
        version=version,
        padding=0 if footer else doc_id % 5,
        unsync=unsync,
        ext_header=doc_id % 3 == 0,
        footer=footer,
    )
    return tag + gen_mp3_payload(doc_id)


_gen_mp3_apic_batches = _make_gen_batches(_gen_mp3_apic_payload)


def _mp3_apic_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from sim_spark.ops.mp3 import parse_mp3

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            prof = parse_mp3(bytes(payload))
            apic = prof["id3"]["APIC"]
            w, h, px = decode_png(apic["data"])
            rows.append(
                (
                    int(doc_id),
                    prof["id3"]["_version"],
                    w,
                    h,
                    sum(px),
                    apic["pic_type"],
                    sum(apic["desc"].encode("latin-1")),
                    sum(apic["mime"].encode("latin-1")),
                    sum(prof["id3"]["TIT2"].encode("latin-1")),
                    prof["n_frames"],
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "tag_version", "apic_w", "apic_h", "apic_pixsum",
                "pic_type", "desc_sum", "mime_sum", "title_sum", "n_frames",
            ],
        ).astype("int64")


@query(
    "multimodal_mp3_apic_unsync",
    oracle="""
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13 AS w,
         3 + doc_id % 7 AS h,
         't-' || CAST(doc_id AS VARCHAR) AS title,
         'cover-' || CAST(doc_id % 50 AS VARCHAR) AS descr
  FROM documents
),
pix AS (
  SELECT doc_id,
         SUM((doc_id + 7 * (ii.i // (w * 3)) + 13 * ((ii.i // 3) % w)
              + 29 * (ii.i % 3)) % 256) AS pixsum
  FROM p, LATERAL (SELECT unnest(range(0, w * h * 3)) AS i) ii
  GROUP BY doc_id
),
tsum AS (
  SELECT doc_id, SUM(ascii(substr(title, ii.i + 1, 1))) AS t_sum
  FROM p, LATERAL (SELECT unnest(range(0, length(title))) AS i) ii
  GROUP BY doc_id
),
dsum AS (
  SELECT doc_id, SUM(ascii(substr(descr, ii.i + 1, 1))) AS d_sum
  FROM p, LATERAL (SELECT unnest(range(0, length(descr))) AS i) ii
  GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(3 + p.doc_id % 2 AS BIGINT) AS tag_version,
       CAST(p.w AS BIGINT) AS apic_w,
       CAST(p.h AS BIGINT) AS apic_h,
       CAST(pix.pixsum AS BIGINT) AS apic_pixsum,
       CAST(p.doc_id % 21 AS BIGINT) AS pic_type,
       CAST(dsum.d_sum AS BIGINT) AS desc_sum,
       CAST(ascii('i')+ascii('m')+ascii('a')+ascii('g')+ascii('e')
            +ascii('/')+ascii('p')+ascii('n')+ascii('g')
            AS BIGINT) AS mime_sum,
       CAST(tsum.t_sum AS BIGINT) AS title_sum,
       CAST(3 + p.doc_id % 6 AS BIGINT) AS n_frames
FROM p
JOIN pix ON p.doc_id = pix.doc_id
JOIN tsum ON p.doc_id = tsum.doc_id
JOIN dsum ON p.doc_id = dsum.doc_id
""",
)
def multimodal_mp3_apic_unsync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 unsynchronisation + APIC cover-art extraction (r13, task
    8): the two ID3 features real files use that r12's parser did not
    cover. Unsync byte-stuffing flips every size/offset downstream —
    here it is exercised against the most hostile payload available
    (DEFLATE-compressed PNG bytes, dense in 0xFF), so one missed
    unstuff corrupts the image stream and fails typed instead of
    silently. The APIC walk (mime NUL scan, picture type, description
    NUL scan) hands the embedded cover art to ops/multimodal.py's PNG
    decoder, and the decoded pixels hash-match the shared
    _formula_pixels arithmetic in SQL — container-in-container, both
    layers under one oracle. v2.4 docs exercise the footer (10 bytes
    the total must count) and extended headers on every third doc.
    Light fan-out class: Arrow-batched mapInPandas, no shuffle until
    the 10-column feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_mp3_apic_batches)
    return payloads.mapInPandas(
        _mp3_apic_feature_batches,
        "doc_id long, tag_version long, apic_w long, apic_h long, "
        "apic_pixsum long, pic_type long, desc_sum long, mime_sum long, "
        "title_sum long, n_frames long",
    )


# --- bzip2 multistream walk (r13): the Wikipedia-dump shape -------------------

from sim_spark.ops.bz2walk import encode_bz2_streams, parse_bz2_streams  # noqa: E402


def _gen_bz2_payload(doc_id: int) -> bytes:
    """Deterministic multistream bzip2: n = 1 + doc%3 independent
    streams (the Wikipedia *-multistream.xml.bz2 shape — seekable at
    stream boundaries via the companion index); stream s: level
    1 + (doc + 2s) % 9, content byte j = (13·doc + 7s + 3j) % 95 + 32
    with length 60 + (doc + 19s) % 50 — all SQL-recomputable."""
    n = 1 + doc_id % 3
    return encode_bz2_streams(
        [
            (
                1 + (doc_id + 2 * s) % 9,
                bytes(
                    (13 * doc_id + 7 * s + 3 * j) % 95 + 32
                    for j in range(60 + (doc_id + 19 * s) % 50)
                ),
            )
            for s in range(n)
        ]
    )


_gen_bz2_batches = _make_gen_batches(_gen_bz2_payload)


def _bz2_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            recs = parse_bz2_streams(bytes(payload))
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    sum(len(r["content"]) for r in recs),
                    sum(sum(r["content"]) for r in recs),
                    sum(r["level"] for r in recs),
                    sum(r["content"][0] for r in recs),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_streams", "total_len", "content_sum",
                "level_sum", "head_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_bz2_multistream_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS n FROM documents
),
st AS (
  SELECT doc_id, n, ss.s,
         1 + (doc_id + 2 * ss.s) % 9 AS level,
         60 + (doc_id + 19 * ss.s) % 50 AS ln
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS s) ss
),
csum AS (
  SELECT doc_id, s,
         SUM((13 * doc_id + 7 * s + 3 * jj.j) % 95 + 32) AS c_sum
  FROM st, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id, s
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_streams,
       CAST((SELECT SUM(ln) FROM st WHERE st.doc_id = p.doc_id)
            AS BIGINT) AS total_len,
       CAST((SELECT SUM(c_sum) FROM csum WHERE csum.doc_id = p.doc_id)
            AS BIGINT) AS content_sum,
       CAST((SELECT SUM(level) FROM st WHERE st.doc_id = p.doc_id)
            AS BIGINT) AS level_sum,
       CAST((SELECT SUM((13 * p.doc_id + 7 * st.s) % 95 + 32)
             FROM st WHERE st.doc_id = p.doc_id)
            AS BIGINT) AS head_sum
FROM p
""",
)
def multimodal_bz2_multistream_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bzip2 multistream walk (r13) — the Wikipedia-dump container
    (*-multistream.xml.bz2): many INDEPENDENT bzip2 streams
    concatenated so readers can seek to an index offset and decode one
    stream without the rest. ops/bz2walk.py walks per-stream BZh
    magic, the level digit (100k-900k block size), the pi-digit block
    magic (or the sqrt-pi footer of an empty stream), recovers stream
    boundaries from the decompressor's unused tail, and bounds each
    stream's inflate (bzip2's worst-case ratio makes 48-byte → 8 MiB
    bombs trivial). The fixture cycles stream counts and all nine
    levels; the oracle recomputes stream counts, lengths, content byte
    sums, level sums, and first-byte sums in integer SQL. Light
    fan-out class: Arrow-batched mapInPandas, no shuffle until the
    6-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_bz2_batches)
    return payloads.mapInPandas(
        _bz2_feature_batches,
        "doc_id long, n_streams long, total_len long, content_sum long, "
        "level_sum long, head_sum long",
    )


# --- MediaWiki dump parse (r14): inside the Wikipedia multistream ------------

from sim_spark.ops.mediawiki import (  # noqa: E402
    encode_mediawiki_dump,
    parse_mediawiki_dump,
)


def _gen_mediawiki_payload(doc_id: int) -> bytes:
    """Deterministic multistream MediaWiki dump, all SQL-recomputable:
    n_pages = 2 + doc%4, two pages per middle stream (so stream count
    exercises the head/groups/footer layout); page q: id = doc*10+q+1,
    ns = 2*(q%3), title = 'Page_{doc}_{q}', 1 + (doc+q)%2 revisions;
    revision r: id = page_id*100+r+1, text char j =
    (11*doc + 5*q + 3*r + j) % 95 + 32 over length
    20 + (doc + 7*q + 13*r) % 40 — the 32..126 alphabet includes the
    XML-active characters, so escape/unescape is exercised on every
    payload."""
    pages = []
    for q in range(2 + doc_id % 4):
        page_id = doc_id * 10 + q + 1
        revs = []
        for r in range(1 + (doc_id + q) % 2):
            ln = 20 + (doc_id + 7 * q + 13 * r) % 40
            revs.append(
                dict(
                    rev_id=page_id * 100 + r + 1,
                    timestamp="2024-01-01T00:00:00Z",
                    username=f"u{(doc_id + q + r) % 5}",
                    text="".join(
                        chr((11 * doc_id + 5 * q + 3 * r + j) % 95 + 32)
                        for j in range(ln)
                    ),
                )
            )
        pages.append(
            dict(
                title=f"Page_{doc_id}_{q}",
                ns=2 * (q % 3),
                page_id=page_id,
                revisions=revs,
            )
        )
    return encode_mediawiki_dump(
        "Wiki",
        f"db{doc_id % 10}",
        pages,
        pages_per_stream=2,
        level=1 + doc_id % 9,
    )


_gen_mediawiki_batches = _make_gen_batches(_gen_mediawiki_payload)


def _mediawiki_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            d = parse_mediawiki_dump(bytes(payload))
            revs = [r for pg in d["pages"] for r in pg["revisions"]]
            rows.append(
                (
                    int(doc_id),
                    d["n_streams"],
                    len(d["pages"]),
                    sum(pg["page_id"] for pg in d["pages"]),
                    sum(pg["ns"] for pg in d["pages"]),
                    sum(ord(c) for pg in d["pages"] for c in pg["title"]),
                    len(revs),
                    sum(r["rev_id"] for r in revs),
                    sum(len(r["text"].encode("utf-8")) for r in revs),
                    sum(ord(c) for r in revs for c in r["text"]),
                    sum(ord(c) for c in d["dbname"]),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_streams", "n_pages", "page_id_sum", "ns_sum",
                "title_sum", "n_revisions", "rev_id_sum", "text_bytes_sum",
                "text_sum", "db_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_mediawiki_dump_parse",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 4 AS n_pages FROM documents
),
pg AS (
  SELECT p.doc_id, p.n_pages, pp.q,
         p.doc_id * 10 + pp.q + 1 AS page_id,
         2 * (pp.q % 3) AS ns,
         1 + (p.doc_id + pp.q) % 2 AS n_rev,
         'Page_' || CAST(p.doc_id AS VARCHAR) || '_'
                 || CAST(pp.q AS VARCHAR) AS title
  FROM p, LATERAL (SELECT unnest(range(0, p.n_pages)) AS q) pp
),
rv AS (
  SELECT pg.doc_id, pg.q, pg.page_id, rr.r,
         pg.page_id * 100 + rr.r + 1 AS rev_id,
         20 + (pg.doc_id + 7 * pg.q + 13 * rr.r) % 40 AS ln
  FROM pg, LATERAL (SELECT unnest(range(0, pg.n_rev)) AS r) rr
),
tsum AS (
  SELECT doc_id, SUM(ascii(substr(title, ii.i + 1, 1))) AS t_sum
  FROM pg, LATERAL (SELECT unnest(range(0, length(title))) AS i) ii
  GROUP BY doc_id
),
txt AS (
  SELECT rv.doc_id,
         SUM((11 * rv.doc_id + 5 * rv.q + 3 * rv.r + jj.j) % 95 + 32)
           AS c_sum
  FROM rv, LATERAL (SELECT unnest(range(0, rv.ln)) AS j) jj
  GROUP BY rv.doc_id
),
rsum AS (
  SELECT doc_id, COUNT(*) AS n_rev_total, SUM(rev_id) AS rid_sum,
         SUM(ln) AS bytes_sum
  FROM rv GROUP BY doc_id
),
psum AS (
  SELECT doc_id, SUM(page_id) AS pid_sum, SUM(ns) AS nssum
  FROM pg GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(2 + (p.n_pages + 1) // 2 AS BIGINT) AS n_streams,
       CAST(p.n_pages AS BIGINT) AS n_pages,
       CAST(psum.pid_sum AS BIGINT) AS page_id_sum,
       CAST(psum.nssum AS BIGINT) AS ns_sum,
       CAST(tsum.t_sum AS BIGINT) AS title_sum,
       CAST(rsum.n_rev_total AS BIGINT) AS n_revisions,
       CAST(rsum.rid_sum AS BIGINT) AS rev_id_sum,
       CAST(rsum.bytes_sum AS BIGINT) AS text_bytes_sum,
       CAST(txt.c_sum AS BIGINT) AS text_sum,
       CAST(246 + p.doc_id % 10 AS BIGINT) AS db_sum
FROM p
JOIN psum ON p.doc_id = psum.doc_id
JOIN tsum ON p.doc_id = tsum.doc_id
JOIN rsum ON p.doc_id = rsum.doc_id
JOIN txt ON p.doc_id = txt.doc_id
""",
)
def multimodal_mediawiki_dump_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MediaWiki page/revision parse inside the bzip2 multistream
    (r14, verdict task 3) — the operator a Wikipedia-corpus curation
    run executes after ops/bz2walk.py locates the streams. The
    hand-rolled pull parser (ops/mediawiki.py) walks the export
    grammar: root attrs, siteinfo, per-page title/ns/id, per-revision
    id/timestamp/contributor/text, entity unescape over an alphabet
    that includes every XML-active character, unknown-element skip
    (sha1/model/format), and the <text bytes="N"> attribute VERIFIED
    against the decoded UTF-8 length (the WARC digest stance). The
    oracle recomputes stream counts, page/revision id sums, title and
    text character sums in integer SQL. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the 11-column feature
    frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_mediawiki_batches)
    return payloads.mapInPandas(
        _mediawiki_feature_batches,
        "doc_id long, n_streams long, n_pages long, page_id_sum long, "
        "ns_sum long, title_sum long, n_revisions long, rev_id_sum long, "
        "text_bytes_sum long, text_sum long, db_sum long",
    )


# --- WebP (RIFF) container + VP8L lossless decode (r14) ----------------------

from sim_spark.ops.webp import encode_webp, parse_webp  # noqa: E402
from sim_spark.ops.vp8l import encode_vp8l, decode_vp8l  # noqa: E402


def _gen_webp_container_payload(doc_id: int) -> bytes:
    """Deterministic WebP container fixture, all SQL-recomputable.

    Docs with doc_id % 7 == 3 are SIMPLE lossless files (one VP8L
    chunk, no metadata); the rest are EXTENDED (VP8X) files with
    canvas 16 + doc%50 x 8 + doc%30 and a metadata inventory cycling
    through presence formulas: EXIF when doc%2==0 (length
    10 + doc%20, byte j = (7*doc + 3*j) % 95 + 32), XMP when doc%3==0
    (length 5 + doc%11, byte j = (5*doc + j) % 95 + 32), ICCP when
    doc%5==0 (length 8 + doc%6, byte j = (3*doc + 2*j) % 95 + 32).
    The embedded image is a real VP8L stream: a solid-color
    4 + doc%12 x 3 + doc%7 image whose RGB is (7*doc%256, 11*doc%256,
    13*doc%256) — its run-length LZ77 encoding keeps the fixture
    cheap while every payload still round-trips through the full
    bitstream decoder in the feature pass."""
    w_i, h_i = 4 + doc_id % 12, 3 + doc_id % 7
    rgb = bytes((7 * doc_id % 256, 11 * doc_id % 256, 13 * doc_id % 256)
                ) * (w_i * h_i)
    vp8l = encode_vp8l(w_i, h_i, rgb)
    if doc_id % 7 == 3:
        return encode_webp((b"VP8L", vp8l))
    exif = (bytes((7 * doc_id + 3 * j) % 95 + 32
                  for j in range(10 + doc_id % 20))
            if doc_id % 2 == 0 else None)
    xmp = (bytes((5 * doc_id + j) % 95 + 32
                 for j in range(5 + doc_id % 11))
           if doc_id % 3 == 0 else None)
    iccp = (bytes((3 * doc_id + 2 * j) % 95 + 32
                  for j in range(8 + doc_id % 6))
            if doc_id % 5 == 0 else None)
    return encode_webp(
        (b"VP8L", vp8l),
        canvas=(16 + doc_id % 50, 8 + doc_id % 30),
        exif=exif, xmp=xmp, iccp=iccp,
    )


_gen_webp_container_batches = _make_gen_batches(_gen_webp_container_payload)


def _webp_container_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            r = parse_webp(bytes(payload))
            px = decode_vp8l(r["image_payload"])
            rows.append(
                (
                    int(doc_id),
                    1 if r["variant"] == "extended" else 0,
                    len(r["chunks"]),
                    r["canvas_w"], r["canvas_h"],
                    r["image_w"], r["image_h"],
                    sum(r["exif"]) if r["exif"] is not None else 0,
                    sum(r["xmp"]) if r["xmp"] is not None else 0,
                    sum(r["iccp"]) if r["iccp"] is not None else 0,
                    sum(px["rgb"][:3]),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "is_extended", "n_chunks", "canvas_w", "canvas_h",
                "image_w", "image_h", "exif_sum", "xmp_sum", "iccp_sum",
                "first_px_sum",
            ],
        ).astype("int64")


@query(
    "multimodal_webp_container_walk",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS ext,
         CASE WHEN doc_id % 7 <> 3 AND doc_id % 2 = 0
              THEN 10 + doc_id % 20 ELSE 0 END AS exif_len,
         CASE WHEN doc_id % 7 <> 3 AND doc_id % 3 = 0
              THEN 5 + doc_id % 11 ELSE 0 END AS xmp_len,
         CASE WHEN doc_id % 7 <> 3 AND doc_id % 5 = 0
              THEN 8 + doc_id % 6 ELSE 0 END AS iccp_len
  FROM documents
)
SELECT doc_id,
       CAST(ext AS BIGINT) AS is_extended,
       CAST(CASE WHEN ext = 0 THEN 1
                 ELSE 2 + CASE WHEN exif_len > 0 THEN 1 ELSE 0 END
                        + CASE WHEN xmp_len > 0 THEN 1 ELSE 0 END
                        + CASE WHEN iccp_len > 0 THEN 1 ELSE 0 END
            END AS BIGINT) AS n_chunks,
       CAST(CASE WHEN ext = 0 THEN 4 + doc_id % 12
                 ELSE 16 + doc_id % 50 END AS BIGINT) AS canvas_w,
       CAST(CASE WHEN ext = 0 THEN 3 + doc_id % 7
                 ELSE 8 + doc_id % 30 END AS BIGINT) AS canvas_h,
       CAST(4 + doc_id % 12 AS BIGINT) AS image_w,
       CAST(3 + doc_id % 7 AS BIGINT) AS image_h,
       CAST(COALESCE((SELECT SUM((7 * doc_id + 3 * jj.j) % 95 + 32)
                      FROM (SELECT unnest(range(0, exif_len)) AS j) jj), 0)
            AS BIGINT) AS exif_sum,
       CAST(COALESCE((SELECT SUM((5 * doc_id + jj.j) % 95 + 32)
                      FROM (SELECT unnest(range(0, xmp_len)) AS j) jj), 0)
            AS BIGINT) AS xmp_sum,
       CAST(COALESCE((SELECT SUM((3 * doc_id + 2 * jj.j) % 95 + 32)
                      FROM (SELECT unnest(range(0, iccp_len)) AS j) jj), 0)
            AS BIGINT) AS iccp_sum,
       CAST((7 * doc_id) % 256 + (11 * doc_id) % 256 + (13 * doc_id) % 256
            AS BIGINT) AS first_px_sum
FROM p
""",
)
def multimodal_webp_container_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WebP RIFF container walk (r14, verdict task 4) — the last
    common crawled-image container. ops/webp.py walks the
    RIFF/WEBP framing (even-padded chunks, exact RIFF-size check)
    across both the simple-lossless and extended (VP8X) variants:
    feature flags cross-checked against actual chunk presence, 24-bit
    canvas fields, EXIF/XMP/ICCP metadata inventory, and the VP8L
    header peek for image dimensions. The embedded image is a real
    VP8L bitstream decoded end-to-end (ops/vp8l.py) — first_px_sum
    pins the decode, so a framing bug cannot cancel against a codec
    bug. The oracle recomputes chunk counts, canvas/image dims, and
    metadata byte sums from the synthesis formulas in integer SQL.
    Light fan-out class: Arrow-batched mapInPandas, no shuffle until
    the 11-column feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_webp_container_batches)
    return payloads.mapInPandas(
        _webp_container_feature_batches,
        "doc_id long, is_extended long, n_chunks long, canvas_w long, "
        "canvas_h long, image_w long, image_h long, exif_sum long, "
        "xmp_sum long, iccp_sum long, first_px_sum long",
    )


def _gen_webp_vp8l_payload(doc_id: int) -> bytes:
    """Full-entropy VP8L fixture: w = 4 + doc%10, h = 3 + doc%6,
    channel value (5*doc + 13*r + 19*c + 29*ch) % 256 — near-uniform
    bytes so the canonical-Huffman literal path (19-slot code-length
    code, repeat codes, per-channel alphabets) carries real weight,
    wrapped as a simple-lossless WebP file."""
    w, h = 4 + doc_id % 10, 3 + doc_id % 6
    rgb = bytes(
        (5 * doc_id + 13 * r + 19 * c + 29 * ch) % 256
        for r in range(h) for c in range(w) for ch in range(3)
    )
    return encode_webp((b"VP8L", encode_vp8l(w, h, rgb)))


_gen_webp_vp8l_batches = _make_gen_batches(_gen_webp_vp8l_payload)


def _webp_vp8l_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            r = parse_webp(bytes(payload))
            d = decode_vp8l(r["image_payload"])
            w, h = d["width"], d["height"]
            a = (np.frombuffer(d["rgb"], dtype=np.uint8)
                 .astype(np.int64).reshape(h, w, 3))
            rows.append(
                (
                    int(doc_id), w, h, int(a.sum()), int(a[0].sum()),
                    int(a[:, 0].sum()), int(a.max()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "px_sum", "top_row_sum",
                     "left_col_sum", "px_max"],
        ).astype("int64")


@query(
    "multimodal_webp_vp8l_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 4 + (doc_id % 10) AS w, 3 + (doc_id % 6) AS h
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, rr.r, cc.c, hh.ch,
         (5 * doc_id + 13 * rr.r + 19 * cc.c + 29 * hh.ch) % 256 AS val
  FROM dims,
       LATERAL (SELECT unnest(range(0, h)) AS r) rr,
       LATERAL (SELECT unnest(range(0, w)) AS c) cc,
       LATERAL (SELECT unnest(range(0, 3)) AS ch) hh
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(CASE WHEN r = 0 THEN val ELSE 0 END) AS BIGINT) AS top_row_sum,
       CAST(sum(CASE WHEN c = 0 THEN val ELSE 0 END) AS BIGINT) AS left_col_sum,
       CAST(max(val) AS BIGINT) AS px_max
FROM cells GROUP BY doc_id, w, h
""",
)
def multimodal_webp_vp8l_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VP8L lossless decode end-to-end (r14, closing the WebP decode
    fence the same way r9 closed PNG's): synthesize real VP8L
    bitstreams — SUBTRACT_GREEN transform, per-channel canonical
    prefix codes transmitted through the 19-slot code-length code,
    LZ77 run copies through the plain plane codes — wrap them in the
    RIFF container, then walk the container and decode the bitstream
    back (ops/webp.py + ops/vp8l.py) and aggregate per-doc pixel
    statistics. ``top_row_sum``/``left_col_sum`` pin row/column
    orientation (a transposed or BGR-swapped decode breaks the hash);
    the oracle recomputes every channel byte from the synthesis
    formula and never sees the bytes, so an entropy-decode, transform
    inversion, or container-walk bug cannot cancel out. Same 100 TB
    shape as the PNG/BMP twins: per-row mapInPandas decode, no
    shuffle until the tiny feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_webp_vp8l_batches)
    return payloads.mapInPandas(
        _webp_vp8l_feature_batches,
        "doc_id long, width long, height long, px_sum long, "
        "top_row_sum long, left_col_sum long, px_max long",
    )


# --- HEIF/HEIC item metadata walk (r14) --------------------------------------

from sim_spark.ops.heif import encode_heif_meta, parse_heif_meta  # noqa: E402


def _gen_heif_payload(doc_id: int) -> bytes:
    """Deterministic HEIF fixture, all SQL-recomputable, cycling the
    iloc/pitm layout variants: iloc version doc%3, 8-byte offsets on
    odd docs, pitm v1 every fifth doc. Primary item (id 1, hvc1-typed
    stand-in payload behind the codec fence): ispe 32+doc%64 x
    24+doc%48, data length 12 + doc%25 (byte j = (7*doc + j) % 95 +
    32), split across two extents when doc%4==0. doc%3 thumbnail
    items (id 2+q): ispe (8+q) x (6+q), length 6 + (doc+q)%9, byte
    j = (11*doc + 5*q + j) % 95 + 32. An Exif item (id 10, no ispe)
    on even docs: length 8 + doc%10, byte j = (3*doc + 2*j) % 95 +
    32."""
    pdata = bytes((7 * doc_id + j) % 95 + 32
                  for j in range(12 + doc_id % 25))
    primary = dict(item_id=1, item_type="hvc1", item_name="primary",
                   width=32 + doc_id % 64, height=24 + doc_id % 48)
    if doc_id % 4 == 0:
        primary["extents"] = [pdata[: len(pdata) // 2],
                              pdata[len(pdata) // 2:]]
    else:
        primary["data"] = pdata
    items = [primary]
    for q in range(doc_id % 3):
        items.append(
            dict(
                item_id=2 + q, item_type="hvc1", item_name=f"th{q}",
                width=8 + q, height=6 + q,
                data=bytes((11 * doc_id + 5 * q + j) % 95 + 32
                           for j in range(6 + (doc_id + q) % 9)),
            )
        )
    if doc_id % 2 == 0:
        items.append(
            dict(
                item_id=10, item_type="Exif",
                data=bytes((3 * doc_id + 2 * j) % 95 + 32
                           for j in range(8 + doc_id % 10)),
            )
        )
    return encode_heif_meta(
        "heic", items, 1,
        iloc_version=doc_id % 3,
        offset_size=8 if doc_id % 2 else 4,
        pitm_version=1 if doc_id % 5 == 0 else 0,
    )


_gen_heif_batches = _make_gen_batches(_gen_heif_payload)


def _heif_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            r = parse_heif_meta(bytes(payload))
            prim = next(i for i in r["items"]
                        if i["item_id"] == r["primary_id"])
            rows.append(
                (
                    int(doc_id),
                    len(r["items"]),
                    prim["width"], prim["height"],
                    sum(i["width"] for i in r["items"]
                        if i["width"] is not None and
                        i["item_id"] != r["primary_id"]),
                    sum(len(i["extents"]) for i in r["items"]),
                    sum(len(i["data"]) for i in r["items"]),
                    sum(b for i in r["items"] for b in i["data"]),
                    r["n_properties"],
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_items", "primary_w", "primary_h",
                "thumb_w_sum", "n_extents", "data_total", "data_sum",
                "n_properties",
            ],
        ).astype("int64")


@query(
    "multimodal_heif_items_walk",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 3 AS n_thumb,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_exif,
         12 + doc_id % 25 AS p_len,
         CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS p_ext
  FROM documents
),
psum AS (
  SELECT doc_id, SUM((7 * doc_id + jj.j) % 95 + 32) AS s
  FROM p, LATERAL (SELECT unnest(range(0, p_len)) AS j) jj
  GROUP BY doc_id
),
th AS (
  SELECT p.doc_id, qq.q, 6 + (p.doc_id + qq.q) % 9 AS ln
  FROM p, LATERAL (SELECT unnest(range(0, n_thumb)) AS q) qq
),
thsum AS (
  SELECT doc_id,
         SUM((11 * doc_id + 5 * q + jj.j) % 95 + 32) AS s
  FROM th, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id
),
ex AS (
  SELECT doc_id, 8 + doc_id % 10 AS ln FROM p WHERE has_exif = 1
),
exsum AS (
  SELECT doc_id, SUM((3 * doc_id + 2 * jj.j) % 95 + 32) AS s
  FROM ex, LATERAL (SELECT unnest(range(0, ln)) AS j) jj
  GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(1 + n_thumb + has_exif AS BIGINT) AS n_items,
       CAST(32 + p.doc_id % 64 AS BIGINT) AS primary_w,
       CAST(24 + p.doc_id % 48 AS BIGINT) AS primary_h,
       CAST(8 * n_thumb + n_thumb * (n_thumb - 1) / 2 AS BIGINT)
         AS thumb_w_sum,
       CAST(p_ext + n_thumb + has_exif AS BIGINT) AS n_extents,
       CAST(p_len
            + COALESCE((SELECT SUM(ln) FROM th WHERE th.doc_id = p.doc_id), 0)
            + COALESCE((SELECT ln FROM ex WHERE ex.doc_id = p.doc_id), 0)
            AS BIGINT) AS data_total,
       CAST(psum.s
            + COALESCE((SELECT s FROM thsum WHERE thsum.doc_id = p.doc_id), 0)
            + COALESCE((SELECT s FROM exsum WHERE exsum.doc_id = p.doc_id), 0)
            AS BIGINT) AS data_sum,
       CAST(1 + n_thumb AS BIGINT) AS n_properties
FROM p JOIN psum ON p.doc_id = psum.doc_id
""",
)
def multimodal_heif_items_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HEIF/HEIC item-metadata walk (r14, verdict task 6) — the
    item-based ISO-BMFF layout phones shoot, layered on the mp4 box
    primitives. ops/heif.py walks meta/hdlr/pitm/iinf(infe v2/v3)/
    iloc(v0/v1/v2, nibble-coded field widths, multi-extent)/iprp
    (ispe properties bound through ipma associations), RESOLVES every
    iloc extent against the actual file bytes with bounds checks (the
    WARC-digest stance: the offset arithmetic is proven by reading the
    data it addresses), and the fixture cycles all three iloc
    versions, 4/8-byte offsets and both pitm widths so one run
    covers the full layout matrix. ``data_sum`` pins extent
    resolution, ``thumb_w_sum``/``n_properties`` pin the
    ipma->ipco property join. Oracle recomputes everything from the
    synthesis formulas in integer SQL. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the 9-column feature
    frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_heif_batches)
    return payloads.mapInPandas(
        _heif_feature_batches,
        "doc_id long, n_items long, primary_w long, primary_h long, "
        "thumb_w_sum long, n_extents long, data_total long, "
        "data_sum long, n_properties long",
    )


# --- Arithmetic-coded JPEG (SOF9, r14) ---------------------------------------

from sim_spark.ops.jpeg_arith import (  # noqa: E402
    decode_jpeg_arith,
    encode_jpeg_arith_from_coeffs,
)


def _formula_jpeg_arith_coeffs(doc_id: int):
    """Coefficient formula for the arithmetic key (distinct constants
    from the Huffman key so the two fixtures differ): wb = 2 + doc%3,
    hb = 1 + doc%4; DC(b) = ((doc + 19*b) % 45) - 22; AC at zigzag z
    in 1..23 nonzero iff (doc + 5*b + 7*z) % 6 == 0, value
    ((doc + 13*b + 11*z) % 25) - 12."""
    import numpy as np

    wb, hb = 2 + doc_id % 3, 1 + doc_id % 4
    n = wb * hb
    b = np.arange(n, dtype=np.int64)[:, None]
    z = np.arange(64, dtype=np.int64)[None, :]
    coeffs = np.where(
        (z >= 1) & (z < 24) & ((doc_id + 5 * b + 7 * z) % 6 == 0),
        (doc_id + 13 * b + 11 * z) % 25 - 12,
        0,
    )
    coeffs[:, 0] = ((doc_id + 19 * b[:, 0]) % 45) - 22
    return wb, hb, coeffs


def _gen_jpeg_arith_payload(doc_id: int) -> bytes:
    wb, hb, coeffs = _formula_jpeg_arith_coeffs(doc_id)
    return encode_jpeg_arith_from_coeffs(wb, hb, coeffs)


_gen_jpeg_arith_batches = _make_gen_batches(_gen_jpeg_arith_payload)


def _jpeg_arith_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px, coeffs = decode_jpeg_arith(bytes(payload))
            n = coeffs.shape[0]
            b = np.arange(n, dtype=np.int64)[:, None]
            z = np.arange(64, dtype=np.int64)[None, :]
            rows.append(
                (
                    int(doc_id), w, h, n,
                    int(coeffs[:, 0].sum()),
                    int((coeffs[:, 1:] != 0).sum()),
                    int(np.abs(coeffs).sum()),
                    int(((z + 64 * b) * coeffs).sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_blocks", "dc_sum",
                     "ac_nonzero", "abs_sum", "zz_checksum"],
        ).astype("int64")


@query(
    "multimodal_jpeg_arith_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 2 + (doc_id % 3) AS wb, 1 + (doc_id % 4) AS hb
  FROM documents
),
cells AS (
  SELECT doc_id, wb, hb, bb.b, zz.z,
         CASE
           WHEN zz.z = 0 THEN ((doc_id + 19 * bb.b) % 45) - 22
           WHEN zz.z < 24 AND (doc_id + 5 * bb.b + 7 * zz.z) % 6 = 0
             THEN ((doc_id + 13 * bb.b + 11 * zz.z) % 25) - 12
           ELSE 0
         END AS coef
  FROM dims,
       LATERAL (SELECT unnest(range(0, wb * hb)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 64)) AS z) zz
)
SELECT doc_id,
       CAST(wb * 8 AS BIGINT) AS width,
       CAST(hb * 8 AS BIGINT) AS height,
       CAST(wb * hb AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN z = 0 THEN coef ELSE 0 END) AS BIGINT) AS dc_sum,
       CAST(sum(CASE WHEN z > 0 AND coef <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS ac_nonzero,
       CAST(sum(abs(coef)) AS BIGINT) AS abs_sum,
       CAST(sum((z + 64 * b) * coef) AS BIGINT) AS zz_checksum
FROM cells GROUP BY doc_id, wb, hb
""",
)
def multimodal_jpeg_arith_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arithmetic-coded JPEG decode end-to-end (r14 — closing the last
    named gap in the r13 missing list): synthesize SOF9
    extended-sequential files whose entropy layer is the T.81 Annex D
    QM coder (113-state adaptive probability estimation, carry/stack
    byte output, 0xFF00 stuffing) driving the §F.1.4.4 DC/AC decision
    trees (difference-classified DC conditioning contexts, per-index
    SE/S0/X1 AC bins, the Kx low/high band split, the non-adapting
    equiprobable sign bin), then decode them back (ops/jpeg_arith.py)
    and aggregate the RECOVERED quantized coefficients. The entropy
    layer is exactly invertible, so the oracle — recomputing every
    coefficient from the doc_id formula without seeing a byte —
    hash-matches bit-exactly; a state-table, conditioning-context,
    carry, or stuffing bug cannot cancel out of ``zz_checksum``.
    Pixel parity with the Huffman twin (same coefficients -> identical
    IDCT plane) is pinned in tests/test_jpeg_codec.py. Same 100 TB
    shape as every container key: per-row mapInPandas decode, no
    shuffle until the 8-column feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_jpeg_arith_batches)
    return payloads.mapInPandas(
        _jpeg_arith_feature_batches,
        "doc_id long, width long, height long, n_blocks long, dc_sum long, "
        "ac_nonzero long, abs_sum long, zz_checksum long",
    )


# --- TFRecord + Avro OCF: the training-data interchange shards (r14) ---------

from sim_spark.ops.tfrecord import (  # noqa: E402
    encode_example,
    encode_tfrecord_file,
    parse_example,
    parse_tfrecord_file,
)
from sim_spark.ops.avro import encode_avro_ocf, parse_avro_ocf  # noqa: E402


def _gen_tfrecord_payload(doc_id: int) -> bytes:
    """Deterministic TFRecord shard: 1 + doc%4 Example records; record
    r carries an Int64List "ids" (count 2 + (doc+r)%3, value j =
    (7*doc + 11*r + 3*j) % 1000), a single-element BytesList "text"
    (length 5 + (doc+3r)%20, byte j = (5*doc + 7*r + j) % 95 + 32)
    and a FloatList "w" (count 1 + (doc+r)%2, values j + 0.5 — parsed,
    counted, never value-aggregated across the hash boundary)."""
    recs = []
    for r in range(1 + doc_id % 4):
        ex = dict(
            ids=[(7 * doc_id + 11 * r + 3 * j) % 1000
                 for j in range(2 + (doc_id + r) % 3)],
            text=[bytes((5 * doc_id + 7 * r + j) % 95 + 32
                        for j in range(5 + (doc_id + 3 * r) % 20))],
            w=[j + 0.5 for j in range(1 + (doc_id + r) % 2)],
        )
        recs.append(encode_example(ex))
    return encode_tfrecord_file(recs)


_gen_tfrecord_batches = _make_gen_batches(_gen_tfrecord_payload)


def _tfrecord_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            exs = [parse_example(r)
                   for r in parse_tfrecord_file(bytes(payload))]
            ids = [v for ex in exs for v in ex["ids"][1]]
            texts = [b for ex in exs for b in ex["text"][1]]
            rows.append(
                (
                    int(doc_id),
                    len(exs),
                    len(ids),
                    sum(ids),
                    sum(len(b) for b in texts),
                    sum(byte for b in texts for byte in b),
                    sum(len(ex["w"][1]) for ex in exs),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_records", "ids_count", "ids_sum",
                     "text_bytes", "text_sum", "float_count"],
        ).astype("int64")


@query(
    "multimodal_tfrecord_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 4 AS n FROM documents
),
r AS (
  SELECT doc_id, rr.r,
         2 + (doc_id + rr.r) % 3 AS n_ids,
         5 + (doc_id + 3 * rr.r) % 20 AS t_len,
         1 + (doc_id + rr.r) % 2 AS n_fl
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS r) rr
),
idsum AS (
  SELECT doc_id, COUNT(*) AS cnt,
         SUM((7 * doc_id + 11 * r + 3 * jj.j) % 1000) AS s
  FROM r, LATERAL (SELECT unnest(range(0, n_ids)) AS j) jj
  GROUP BY doc_id
),
tsum AS (
  SELECT doc_id, SUM((5 * doc_id + 7 * r + jj.j) % 95 + 32) AS s
  FROM r, LATERAL (SELECT unnest(range(0, t_len)) AS j) jj
  GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_records,
       CAST(idsum.cnt AS BIGINT) AS ids_count,
       CAST(idsum.s AS BIGINT) AS ids_sum,
       CAST((SELECT SUM(t_len) FROM r WHERE r.doc_id = p.doc_id)
            AS BIGINT) AS text_bytes,
       CAST(tsum.s AS BIGINT) AS text_sum,
       CAST((SELECT SUM(n_fl) FROM r WHERE r.doc_id = p.doc_id)
            AS BIGINT) AS float_count
FROM p JOIN idsum ON p.doc_id = idsum.doc_id
JOIN tsum ON p.doc_id = tsum.doc_id
""",
)
def multimodal_tfrecord_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard walk (r14) — THE sharded training-data format.
    ops/tfrecord.py implements the stack dependency-free: crc32c
    (Castagnoli, pinned by published test vectors), TensorFlow's
    masked-CRC framing VERIFIED on both the length header and payload
    of every record (the WARC-digest stance), the general protobuf
    wire layer (varints, 4 wire types, unknown-field skip), and the
    tf.train.Example message graph (Features map entries, the
    BytesList/FloatList/Int64List oneof, packed AND unpacked numeric
    lists). The oracle recomputes record counts, id sums and text
    byte sums from the synthesis formulas in integer SQL; the
    FloatList arm is parsed and counted but never value-aggregated
    across the hash boundary. Light fan-out class: Arrow-batched
    mapInPandas, no shuffle until the 7-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_tfrecord_batches)
    return payloads.mapInPandas(
        _tfrecord_feature_batches,
        "doc_id long, n_records long, ids_count long, ids_sum long, "
        "text_bytes long, text_sum long, float_count long",
    )


def _gen_avro_payload(doc_id: int) -> bytes:
    """Deterministic Avro OCF: 2 + doc%5 flat records in 2-record
    blocks, deflate codec on even docs; record i: id = doc*100 + i,
    name char j = chr((11*doc + 3*i + j) % 26 + 97) over length
    3 + (doc+i)%5, blob byte j = (13*doc + 5*i + 7*j) % 256 over
    length 2 + (doc+i)%6, score = i + 0.25 (exact quarters), ok =
    (doc + i) % 3 == 0. Sync marker derived from doc_id (md5) so the
    fixture is fully deterministic."""
    import hashlib

    schema = {
        "type": "record", "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "blob", "type": "bytes"},
            {"name": "score", "type": "double"},
            {"name": "ok", "type": "boolean"},
        ],
    }
    recs = []
    for i in range(2 + doc_id % 5):
        recs.append(
            dict(
                id=doc_id * 100 + i,
                name="".join(chr((11 * doc_id + 3 * i + j) % 26 + 97)
                             for j in range(3 + (doc_id + i) % 5)),
                blob=bytes((13 * doc_id + 5 * i + 7 * j) % 256
                           for j in range(2 + (doc_id + i) % 6)),
                score=i + 0.25,
                ok=(doc_id + i) % 3 == 0,
            )
        )
    return encode_avro_ocf(
        schema, recs,
        sync=hashlib.md5(f"sync{doc_id}".encode()).digest(),
        codec="deflate" if doc_id % 2 == 0 else "null",
        records_per_block=2,
    )


_gen_avro_batches = _make_gen_batches(_gen_avro_payload)


def _avro_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            r = parse_avro_ocf(bytes(payload))
            recs = r["records"]
            rows.append(
                (
                    int(doc_id),
                    len(recs),
                    r["n_blocks"],
                    sum(x["id"] for x in recs),
                    sum(ord(c) for x in recs for c in x["name"]),
                    sum(b for x in recs for b in x["blob"]),
                    int(sum(round(x["score"] * 4) for x in recs)),
                    sum(1 for x in recs if x["ok"]),
                    1 if r["codec"] == "deflate" else 0,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_records", "n_blocks", "id_sum",
                     "name_sum", "blob_sum", "score_qsum", "ok_count",
                     "codec_deflate"],
        ).astype("int64")


@query(
    "multimodal_avro_ocf_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 5 AS n FROM documents
),
r AS (
  SELECT doc_id, ii.i,
         3 + (doc_id + ii.i) % 5 AS name_len,
         2 + (doc_id + ii.i) % 6 AS blob_len
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) ii
),
nsum AS (
  SELECT doc_id, SUM((11 * doc_id + 3 * i + jj.j) % 26 + 97) AS s
  FROM r, LATERAL (SELECT unnest(range(0, name_len)) AS j) jj
  GROUP BY doc_id
),
bsum AS (
  SELECT doc_id, SUM((13 * doc_id + 5 * i + 7 * jj.j) % 256) AS s
  FROM r, LATERAL (SELECT unnest(range(0, blob_len)) AS j) jj
  GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS n_records,
       CAST((p.n + 1) // 2 AS BIGINT) AS n_blocks,
       CAST(p.doc_id * 100 * p.n + p.n * (p.n - 1) / 2 AS BIGINT) AS id_sum,
       CAST(nsum.s AS BIGINT) AS name_sum,
       CAST(bsum.s AS BIGINT) AS blob_sum,
       CAST(2 * p.n * (p.n - 1) + p.n AS BIGINT) AS score_qsum,
       CAST((SELECT COUNT(*) FROM r
             WHERE r.doc_id = p.doc_id
               AND (r.doc_id + r.i) % 3 = 0) AS BIGINT) AS ok_count,
       CAST(CASE WHEN p.doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS codec_deflate
FROM p JOIN nsum ON p.doc_id = nsum.doc_id
JOIN bsum ON p.doc_id = bsum.doc_id
""",
)
def multimodal_avro_ocf_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File walk (r14) — the interchange format
    of Kafka dumps and warehouse exports. ops/avro.py walks the
    container per the public Avro spec: metadata map (avro.schema
    JSON + avro.codec), per-block sync-marker VERIFICATION,
    byte-size cross-checks, raw-deflate blocks under the shared
    decompression-bomb budget, and a schema-AST datum decoder for
    flat records of primitives (zigzag varlongs, length-prefixed
    UTF-8, IEEE doubles, booleans). The fixture cycles null/deflate
    codecs and multi-record blocks; score values are exact quarters
    so the double arm aggregates as an exact integer (score_qsum =
    4x sum). Oracle recomputes everything from the synthesis
    formulas in integer SQL. Light fan-out class: Arrow-batched
    mapInPandas, no shuffle until the 9-column feature frame."""
    d = _doc_ids(spark, sf_dir)
    payloads = _fused_payloads(d, _gen_avro_batches)
    return payloads.mapInPandas(
        _avro_feature_batches,
        "doc_id long, n_records long, n_blocks long, id_sum long, "
        "name_sum long, blob_sum long, score_qsum long, ok_count long, "
        "codec_deflate long",
    )


# --- Parquet footer walk: thrift compact protocol (r14) ----------------------

from sim_spark.ops.parquet_meta import parse_parquet_footer  # noqa: E402


def _gen_parquet_payload(doc_id: int) -> bytes:
    """A REAL parquet file written by pyarrow (a third-party writer,
    so the parse is interop, not self-confirmation): n = 10 + doc%50
    rows in exact 4-row row groups, id_j = (7*doc + 13*j) % 1000
    (int64, statistics formula-predictable per group) plus a double
    column the key ignores."""
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 10 + doc_id % 50
    ids = np.array([(7 * doc_id + 13 * j) % 1000 for j in range(n)],
                   dtype=np.int64)
    t = pa.table({"id": ids, "val": np.arange(n, dtype=np.float64)})
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=4, compression="snappy")
    return buf.getvalue()


_gen_parquet_batches = _make_gen_batches(_gen_parquet_payload)


def _parquet_footer_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            r = parse_parquet_footer(bytes(payload))
            idcols = [
                (g, c)
                for g, rg in enumerate(r["row_groups"])
                for c in rg["columns"]
                if c["path"] == "id"
            ]
            rows.append(
                (
                    int(doc_id),
                    r["num_rows"],
                    len(r["row_groups"]),
                    len(r["row_groups"][0]["columns"]),
                    sum((g + 1) * c["num_values"] for g, c in idcols),
                    sum(c["stats"]["min_value"] for _, c in idcols),
                    sum(c["stats"]["max_value"] for _, c in idcols),
                    sum(c["stats"].get("null_count", 0)
                        for _, c in idcols),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "num_rows", "n_row_groups", "n_columns",
                     "nv_checksum", "min_sum", "max_sum", "null_sum"],
        ).astype("int64")


@query(
    "multimodal_parquet_footer_walk",
    oracle="""
WITH p AS (
  SELECT doc_id, 10 + doc_id % 50 AS n FROM documents
),
cells AS (
  SELECT doc_id, n, jj.j, jj.j // 4 AS g,
         (7 * doc_id + 13 * jj.j) % 1000 AS id_val
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS j) jj
),
grp AS (
  SELECT doc_id, g, COUNT(*) AS nv, MIN(id_val) AS mn, MAX(id_val) AS mx
  FROM cells GROUP BY doc_id, g
)
SELECT p.doc_id,
       CAST(p.n AS BIGINT) AS num_rows,
       CAST((p.n + 3) // 4 AS BIGINT) AS n_row_groups,
       CAST(2 AS BIGINT) AS n_columns,
       CAST((SELECT SUM((g + 1) * nv) FROM grp
             WHERE grp.doc_id = p.doc_id) AS BIGINT) AS nv_checksum,
       CAST((SELECT SUM(mn) FROM grp WHERE grp.doc_id = p.doc_id)
            AS BIGINT) AS min_sum,
       CAST((SELECT SUM(mx) FROM grp WHERE grp.doc_id = p.doc_id)
            AS BIGINT) AS max_sum,
       CAST(0 AS BIGINT) AS null_sum
FROM p
""",
)
def multimodal_parquet_footer_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet footer walk (r14) — the format the engine lives on,
    parsed from the bytes up: the Thrift COMPACT protocol
    (varint/zigzag, delta field ids, nested structs, skip-by-type
    forward compatibility) over the parquet-format FileMetaData
    schema (ops/parquet_meta.py). The fixture is written by PYARROW
    with exact 4-row row groups, so the walk is a real third-party
    interop check, and the per-group INT64 statistics (min/max
    decoded from their PLAIN encoding) are formula-predictable —
    the oracle recomputes row-group boundaries, num_values and
    min/max sums in integer SQL. The same parser proves
    scan_parquet_bloom's physical claim in tests/test_plans.py:
    parquet-mr's bloom_filter_offset is present on every chunk of
    the bloom file and absent on the twin. Light fan-out class:
    Arrow-batched mapInPandas, no shuffle until the 8-column
    feature frame."""
    d = _doc_ids(spark, sf_dir, heavy=True)
    payloads = _fused_payloads(d, _gen_parquet_batches)
    return payloads.mapInPandas(
        _parquet_footer_feature_batches,
        "doc_id long, num_rows long, n_row_groups long, n_columns long, "
        "nv_checksum long, min_sum long, max_sum long, null_sum long",
    )
