"""Grouped-map feature engineering, SCD2 query form, multimodal plumbing,
and the engine-native maintenance flagship.

`grouped_features` replicates the reference's single UDF — the grouped-map
pandas pipeline at `src/elt/gold/fact_daily_ohlcv.py:93-147` applied via
`df.groupby(...).apply(...)` (`:170`) — against a SQL oracle, proving the
Arrow group-map path computes exactly what the declarative form does.
`ema_features` keeps the reference's pandas-only pieces (ewm; Spark SQL has
no EMA) — oracled in pytest against pandas, rows-only here.
"""

from __future__ import annotations

import datetime
import os
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import scd2_rewrite
from .registry import load, load_wide, query

_FEATURE_SCHEMA = (
    "event_id long, user_id long, value_return_m long, ma5_c long, cummax_c long"
)


def _feature_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-user kernel (reference shape) — kept as the semantic spec and
    test reference for the vectorized bucket kernel below."""
    pdf = pdf.sort_values(["ts", "event_id"])
    v = pdf["value"]
    # prev==0 -> pct_change yields ±inf; mask to NA (oracle NULLIFs the divisor)
    ret = v.pct_change().replace([np.inf, -np.inf], np.nan)
    # rolling mean in exact integer cents: float sliding-window accumulation
    # orders differ between pandas and SQL windows, integers do not
    cents = (v * 100).round()
    ma5 = cents.rolling(5, min_periods=1).sum() / cents.rolling(5, min_periods=1).count()
    cm = v.cummax()
    out = pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "value_return_m": np.floor(1000.0 * ret).astype("Int64"),
            "ma5_c": np.floor(ma5).astype("Int64"),
            "cummax_c": np.floor(100.0 * cm).astype("Int64"),
        }
    )
    return out


def _feature_bucket_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized many-user kernel: one invocation per user BUCKET, all
    per-user logic via C-level groupby kernels (shift/cumsum/cumcount/
    cummax) — no Python-level per-group apply.

    Float-identical to _feature_fn per user (asserted in
    test_queries_oracle): the return is the same v/prev - 1 division;
    the 5-row rolling mean is a cumsum difference over EXACT integer cents
    (integer-valued float64 prefix sums are exact below 2^53, so
    csum[p] - csum[p-5] equals the windowed sum bit-for-bit); cummax is
    order-identical. Measured ~50x faster than the per-group apply on
    100k rows / 1500 users.

    Input contract (the price of the cumsum-difference form): each user's
    TOTAL absolute cents must stay below 2^53 — a weaker bound than the
    reference rolling sum, whose accumulator is bounded by any 5-row window.
    At |value| <= 10^9 that allows ~90 trillion events per user before the
    prefix sum loses integer exactness; a corpus beyond that bound must use
    the windowed rolling sum instead."""
    pdf = pdf.sort_values(["user_id", "ts", "event_id"], kind="stable")
    g = pdf.groupby("user_id", sort=False)
    v = pdf["value"]
    prev = g["value"].shift(1)
    ret = (v / prev - 1.0).replace([np.inf, -np.inf], np.nan)
    cents = (v * 100).round()
    csum = pdf.assign(_c=cents).groupby("user_id", sort=False)["_c"].cumsum()
    cs5 = pdf.assign(_cs=csum).groupby("user_id", sort=False)["_cs"].shift(5)
    roll_sum = csum - cs5.fillna(0.0)
    cnt = np.minimum(g.cumcount() + 1, 5)
    ma5 = roll_sum / cnt
    cm = g["value"].cummax()
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "value_return_m": np.floor(1000.0 * ret).astype("Int64"),
            "ma5_c": np.floor(ma5).astype("Int64"),
            "cummax_c": np.floor(100.0 * cm).astype("Int64"),
        }
    )


@query(
    "grouped_features",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(1000.0 * (value / NULLIF(lag(value) OVER w, 0) - 1.0)) AS BIGINT) AS value_return_m,
           CAST(floor(sum(CAST(round(value * 100) AS BIGINT)) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                      * 1.0 / count(*) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS BIGINT) AS ma5_c,
           CAST(floor(100.0 * max(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cummax_c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def grouped_features(spark, sf_dir) -> DataFrame:
    """Per-group pandas feature pipeline (A4) via applyInPandas, BUCKETED:
    groups are hash(user_id) % (2 x parallelism) user buckets, so the
    grouped-map gets a bounded number of large Arrow batches instead of one
    tiny invocation per user — at 10^9 users the per-group Python-call and
    Arrow-framing overhead of user-granular grouping is the operator's real
    bottleneck (measured 2x end-to-end here, 50x kernel-side). Inside each
    bucket the per-user logic runs on C-level groupby kernels
    (_feature_bucket_fn), float-identical to the reference per-user kernel.
    Oracled against the equivalent SQL windows.

    Only the four columns the kernel reads cross the shuffle and the Arrow
    boundary: applyInPandas ships every input column (Spark cannot see into
    the Python function), so without the explicit select the events table's
    string payload (event_type, props) would be shuffled and transposed to
    Arrow for nothing (guide §2.3/§4.1)."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    n_bkt = spark.sparkContext.defaultParallelism * 2
    return (
        e.withColumn("_bkt", F.pmod(F.hash("user_id"), F.lit(n_bkt)))
        .groupBy("_bkt")
        .applyInPandas(_feature_bucket_fn, schema=_FEATURE_SCHEMA)
    )


def _ema_bucket_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized many-user EMA/RSI kernel: one invocation per user bucket,
    per-user recurrences via pandas' grouped Cython kernels (groupby.ewm,
    groupby.rolling, groupby.diff) — THE SAME C kernels Series.ewm/.rolling
    run per group, so the floats are bit-identical to _ema_fn, without the
    Python-level per-group apply (measured ~22x kernel-side on 100k rows /
    1500 users; parity asserted in tests/test_features_kernel.py)."""
    pdf = pdf.sort_values(["user_id", "ts", "event_id"], kind="stable")
    g = pdf.groupby("user_id", sort=False)
    ema10 = g["value"].ewm(span=10, adjust=False).mean().reset_index(level=0, drop=True)
    delta = g["value"].diff()
    p2 = pdf.assign(_gain=delta.clip(lower=0), _loss=(-delta.clip(upper=0)))
    g2 = p2.groupby("user_id", sort=False)
    gain = g2["_gain"].rolling(14).mean().reset_index(level=0, drop=True)
    loss = g2["_loss"].rolling(14).mean().reset_index(level=0, drop=True)
    rs = gain / loss
    rsi = 100 - (100 / (1 + rs))
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "ema10": ema10.round(6).astype("Float64"),
            "rsi14": rsi.round(6).astype("Float64"),
        }
    )


def _ema_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    # reference-exact pieces Spark SQL cannot express natively: ewm + RSI
    # (`src/elt/gold/fact_daily_ohlcv.py:112-133`); kept as the semantic
    # spec / test reference for _ema_bucket_fn
    pdf = pdf.sort_values(["ts", "event_id"])
    v = pdf["value"]
    ema10 = v.ewm(span=10, adjust=False).mean()
    delta = v.diff()
    gain = delta.clip(lower=0).rolling(14).mean()
    loss = (-delta.clip(upper=0)).rolling(14).mean()
    rs = gain / loss
    rsi = 100 - (100 / (1 + rs))
    # nullable Float64 maps NaN (undefined warmup windows / 0-division) to
    # SQL NULL — the cross-engine representation the oracle produces
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "ema10": ema10.round(6).astype("Float64"),
            "rsi14": rsi.round(6).astype("Float64"),
        }
    )


@query(
    "ema_features",
    # The adjust=False EMA recurrence is replayed in DuckDB via list_reduce
    # over the per-user ordered value list (prefix slice per row), with the
    # EXACT float semantics of pandas' C kernel: literal (1-a)/a weights,
    # division by (old+new)==1.0 elided, and pandas' `avg != cur` skip-guard
    # mirrored as a CASE. RSI's rolling means are plain 14-row windows with
    # min_periods (rn<15 -> NULL) and the gain/0 -> RSI=100 limit made
    # explicit (pandas reaches it through inf). Verified bit-exact against
    # pandas on the driver's data (round-6 doubles identical to the last bit).
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events
    ), grp AS (
      SELECT user_id, list(value ORDER BY rn) AS vals FROM ordered GROUP BY user_id
    ), rsi AS (
      SELECT event_id, rn,
             avg(greatest(delta, 0)) OVER w14 AS gain,
             avg(greatest(-delta, 0)) OVER w14 AS loss
      FROM ordered
      WINDOW w14 AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT o.event_id, o.user_id,
           round(list_reduce(g.vals[1:o.rn],
             (acc, x) -> CASE WHEN acc = x THEN acc
                         ELSE 0.8181818181818181 * acc + 0.18181818181818182 * x END), 6) AS ema10,
           round(CASE WHEN r.rn < 15 THEN NULL
                WHEN r.loss = 0 AND r.gain > 0 THEN 100.0
                WHEN r.loss = 0 THEN NULL
                ELSE 100 - (100 / (1 + r.gain / r.loss)) END, 6) AS rsi14
    FROM ordered o JOIN grp g USING (user_id) JOIN rsi r ON r.event_id = o.event_id
    """,
)
def ema_features(spark, sf_dir) -> DataFrame:
    """EMA + RSI per user (reference-exact pandas pieces, W5) — validated
    against a driver-side pandas oracle in tests/test_queries_oracle.py AND
    a DuckDB list_reduce oracle replaying the same recurrence.

    Bucketed grouped-map like grouped_features: hash(user_id) buckets bound
    the number of Arrow batches / UDF invocations; inside each bucket the
    recurrences run on pandas' grouped Cython kernels (_ema_bucket_fn),
    bit-identical to the per-user kernel. As there, only the four columns
    the kernel reads are shuffled/Arrow-shipped."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    n_bkt = spark.sparkContext.defaultParallelism * 2
    return (
        e.withColumn("_bkt", F.pmod(F.hash("user_id"), F.lit(n_bkt)))
        .groupBy("_bkt")
        .applyInPandas(
            _ema_bucket_fn,
            schema="event_id long, user_id long, ema10 double, rsi14 double",
        )
    )


@query(
    "scd2_versions",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, round(o_totalprice, 4) AS price, true AS is_current,
             epoch_us(TIMESTAMP '2026-01-01') AS start_us
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    source AS (
      SELECT o_orderkey, round(o_totalprice * 1.2, 4) AS price
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey + 1, round(o_totalprice, 4)
      FROM orders WHERE o_orderkey % 3 = 1 AND (o_orderkey + 1) % 3 <> 0
    ),
    closed AS (
      SELECT t.o_orderkey, t.price,
             CASE WHEN s.o_orderkey IS NOT NULL AND s.price <> t.price THEN false ELSE true END AS is_current,
             t.start_us,
             CASE WHEN s.o_orderkey IS NOT NULL AND s.price <> t.price
                  THEN epoch_us(TIMESTAMP '2026-02-01') END AS end_us
      FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    ),
    inserts AS (
      SELECT s.o_orderkey, s.price, true AS is_current,
             epoch_us(TIMESTAMP '2026-02-01') AS start_us, CAST(NULL AS BIGINT) AS end_us
      FROM source s LEFT JOIN target t ON t.o_orderkey = s.o_orderkey
      WHERE t.o_orderkey IS NULL OR s.price <> t.price
    )
    SELECT * FROM closed UNION ALL SELECT * FROM inserts
    """,
)
def scd2_versions(spark, sf_dir) -> DataFrame:
    """SCD2 MERGE classification (J6; `src/elt/silver/_silver_handler.py:156-192`)
    run through the engine's own copy-on-write rewrite
    (`operators/merge.py:scd2_rewrite`): close changed current rows, insert
    new versions."""
    ts0 = datetime.datetime(2026, 1, 1)
    ts1 = datetime.datetime(2026, 2, 1)
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.round("o_totalprice", 4).alias("price"),
        F.lit(True).alias("is_current"),
        F.lit(ts0).alias("start_ts"),
        F.lit(None).cast("timestamp").alias("end_ts"),
    )
    source = (
        o.filter(F.col("o_orderkey") % 6 == 0)
        .select("o_orderkey", F.round(F.col("o_totalprice") * 1.2, 4).alias("price"))
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 3 == 1) & ((F.col("o_orderkey") + 1) % 3 != 0)
            ).select(
                (F.col("o_orderkey") + 1).alias("o_orderkey"),
                F.round("o_totalprice", 4).alias("price"),
            )
        )
    )
    return scd2_rewrite(
        target, source, ["o_orderkey"], ["price"], F.lit(ts1)
    ).select(
        "o_orderkey",
        "price",
        "is_current",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
    )


# --------------------------------------------------------------------------
# Multimodal columns: real BMP/WAV byte-level decode through Arrow batches.
# The sandbox has no image/audio codec libraries, but BMP and WAV are
# fixed-offset header formats decodable with pure byte math — so the payloads
# are synthesized deterministically from doc_id (even -> 24bpp BMP, odd ->
# PCM16 WAV), shipped through Spark as a binary column, and the decode stage
# parses the actual little-endian header fields back out. The DuckDB oracle
# recomputes the expected metadata from doc_id arithmetic, closing the
# synthesize->bytes->parse round trip.


def _synth_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id -> deterministic BMP (even) / WAV (odd) payload bytes."""
    import struct

    for b in batches:
        payloads = []
        for i in b["doc_id"].astype("int64"):
            i = int(i)
            if i % 2 == 0:  # 24bpp bottom-up BMP, rows padded to 4 bytes
                w, h = 4 + i % 32, 4 + i % 24
                row = ((3 * w + 3) // 4) * 4
                img = row * h
                hdr = struct.pack(
                    "<2sIHHIIiiHHIIiiII",
                    b"BM", 54 + img, 0, 0, 54,
                    40, w, h, 1, 24, 0, img, 2835, 2835, 0, 0,
                )
                px = ((np.arange(img, dtype=np.int64) + i) % 256).astype(np.uint8)
                payloads.append(hdr + px.tobytes())
            else:  # canonical 44-byte RIFF/WAVE header + PCM16 samples
                sr = 8000 + (i % 5) * 4000
                ch = 1 + ((i // 2) % 2)
                ns = 16 + i % 64
                data = ns * ch * 2
                hdr = struct.pack(
                    "<4sI4s4sIHHIIHH4sI",
                    b"RIFF", 36 + data, b"WAVE", b"fmt ", 16, 1,
                    ch, sr, sr * ch * 2, ch * 2, 16, b"data", data,
                )
                smp = ((np.arange(ns * ch, dtype=np.int64) * (i + 1)) % 65536 - 32768)
                payloads.append(hdr + smp.astype("<i2").tobytes())
        yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})


def _le(blobs: pd.Series, idx, lo: int, hi: int, dtype: str) -> np.ndarray:
    """Vectorized little-endian field extract: one frombuffer over the
    concatenated fixed-offset slices of the selected rows."""
    if len(idx) == 0:
        return np.array([], dtype="int64")
    raw = b"".join(bytes(blobs.iat[j][lo:hi]) for j in idx)
    return np.frombuffer(raw, dtype=dtype).astype("int64")


def _decode_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse real BMP/WAV header fields (magic, dimensions, sample rate,
    channels, declared size) out of the binary column, batch-vectorized."""
    for b in batches:
        p = b["payload"]
        n = len(p)
        magic = p.str[:2]
        bmp = np.where((magic == b"BM").to_numpy())[0]
        wav = np.where((p.str[:4] == b"RIFF").to_numpy())[0]
        n_bytes = p.str.len().astype("int64").to_numpy()

        mime = np.full(n, "application/octet-stream", dtype=object)
        mime[bmp], mime[wav] = "image/bmp", "audio/wav"
        width = pd.array([None] * n, dtype="Int64")
        height = pd.array([None] * n, dtype="Int64")
        sample_rate = pd.array([None] * n, dtype="Int64")
        channels = pd.array([None] * n, dtype="Int64")
        declared = np.zeros(n, dtype="int64")

        width[bmp] = _le(p, bmp, 18, 22, "<i4")   # BITMAPINFOHEADER biWidth
        height[bmp] = _le(p, bmp, 22, 26, "<i4")  # biHeight
        declared[bmp] = _le(p, bmp, 2, 6, "<u4")  # bfSize == file length
        channels[wav] = _le(p, wav, 22, 24, "<u2")      # fmt nChannels
        sample_rate[wav] = _le(p, wav, 24, 28, "<u4")   # fmt nSamplesPerSec
        declared[wav] = _le(p, wav, 4, 8, "<u4") + 8    # RIFF size excludes 8

        yield pd.DataFrame(
            {
                "doc_id": b["doc_id"],
                "mime": mime,
                "width": width,
                "height": height,
                "sample_rate": sample_rate,
                "channels": channels,
                "n_bytes": n_bytes,
                "header_ok": declared == n_bytes,
            }
        )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS mime,
           CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 32 AS BIGINT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 24 AS BIGINT) END AS height,
           CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN CAST(1 + ((doc_id // 2) % 2) AS BIGINT) END AS channels,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 54 + ((3 * (4 + doc_id % 32) + 3) // 4) * 4 * (4 + doc_id % 24)
                ELSE 44 + (16 + doc_id % 64) * (1 + ((doc_id // 2) % 2)) * 2
           END AS BIGINT) AS n_bytes,
           true AS header_ok
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir) -> DataFrame:
    """Multimodal column pipeline: binary payload column + byte-exact header
    decode via two mapInPandas stages (synthesize -> decode). The decode
    parses the real BMP/WAV little-endian header fields — no codecs needed —
    and cross-checks the declared file size against the payload length; the
    oracle recomputes every field from doc_id arithmetic. The scan is
    widened so the synth/decode mapInPandas stages parallelize even over a
    single-row-group input."""
    d = load_wide(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(_synth_payloads, schema="doc_id long, payload binary")
    return payloads.mapInPandas(
        _decode_payloads,
        schema="doc_id long, mime string, width long, height long, "
        "sample_rate long, channels long, n_bytes long, header_ok boolean",
    )


# --------------------------------------------------------------------------
# Engine-native flagship: tokenize -> fragmented table -> compact+Z-order


@query(
    "maintenance_compact_zorder",
    oracle=r"""
    WITH tok AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             list_transform(regexp_split_to_array(trim(text), '\s+'),
                            w -> ('0x' || substr(md5(w), 1, 7))::BIGINT % 50257) AS tokens,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
             CAST(source AS VARCHAR) AS source
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           bit_xor(('0x' || substr(md5(doc_id || '|' || n_tok || '|'
                    || array_to_string(tokens, ',')), 1, 15))::BIGINT) AS content_hash
    FROM tok GROUP BY source
    """,
)
def maintenance_compact_zorder(spark, sf_dir) -> DataFrame:
    """End-to-end maintenance flagship: tokenize `documents` into the token
    table shape, write it fragmented, run bin-packing compaction + Z-order
    clustering, and return the post-maintenance per-source rollup. The
    rollup's content_hash is an order-insensitive xor of a per-row md5 over
    (doc_id, n_tok, tokens), so the DuckDB oracle — which tokenizes the raw
    documents directly — verifies that maintenance preserved every token
    array bit-for-bit. Snapshot-isolation and file-level invariants are
    asserted by the engine test suite."""
    from ..datagen import TOKEN_SCHEMA
    from ..operators.clustering import cluster
    from ..operators.compaction import compact
    from ..table import Table

    d = load_wide(spark, sf_dir, "documents")
    # deterministic 'tokenization': word -> md5-int % 50257 (vectorized, JVM)
    # (wide scan: the per-word md5 projection runs under append()'s
    # repartition, so without it the whole tokenize would execute inside the
    # single-row-group scan task)
    tok = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "transform(split(trim(text), '\\\\s+'),"
            " w -> cast(conv(substring(md5(w), 1, 7), 16, 10) % 50257 AS int))"
        ).alias("tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("int").alias("n_tok"),
        F.col("source").cast("string").alias("source"),
    )
    tmp = tempfile.mkdtemp(prefix="maint-")
    try:
        t = Table.create(os.path.join(tmp, "tok"), TOKEN_SCHEMA, partition_by=["source"])
        t.append(tok, num_files=4)
        compact(spark, t, target_bytes=16 * 1024 * 1024)
        cluster(spark, t, mode="zorder", target_bytes=16 * 1024 * 1024)
        rollup = (
            t.scan(spark)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
                F.expr(
                    "bit_xor(cast(conv(substring(md5(concat_ws('|', doc_id,"
                    " cast(n_tok as string), array_join(cast(tokens as array<string>),"
                    " ','))), 1, 15), 16, 10) as bigint))"
                ).alias("content_hash"),
            )
        )
        # materialize the #sources-row rollup so the temp table can be
        # removed NOW — returning a lazy scan over it would leak ~tens of MB
        # into /tmp per invocation across bench/correctness sweeps
        return spark.createDataFrame(rollup.collect(), rollup.schema)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
