"""Structured Streaming digests: windowed stateful aggregation equals the
batch build in exact mode, regardless of trigger boundaries."""

import os

import numpy as np
import pandas as pd
import pytest


def _write_chunks(tmpdir, n_files=4, rows_per=500):
    """Deterministic event files: (warc_ts, lang, n_chars) across 3 hours."""
    rng = np.random.default_rng(77)
    paths = []
    base = np.datetime64("2025-03-01T00:00:00")
    for f in range(n_files):
        ts = base + rng.integers(0, 3 * 3600, rows_per).astype("timedelta64[s]")
        pdf = pd.DataFrame({
            "warc_ts": pd.Series(ts),
            "lang": rng.choice(["en", "de"], rows_per),
            "n_chars": rng.integers(10, 5000, rows_per).astype("float64"),
        })
        p = os.path.join(tmpdir, f"chunk-{f}.parquet")
        pdf.to_parquet(p)
        paths.append(p)
    return paths


def test_window_close_emits_once_and_matches_batch(spark, tmp_path):
    """Append-mode variant: with the watermark advanced past all windows by
    a late sentinel file, every window must be emitted exactly once and its
    digest must equal the batch build."""
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_tdigest_final
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    src = str(tmp_path / "srcf")
    os.makedirs(src)
    _write_chunks(src, n_files=3)
    # sentinel far in event-time future: pushes the watermark beyond all
    # real windows so their timeouts fire within processAllAvailable()
    sentinel_ts = np.array(["2025-03-02T00:00:00"], dtype="datetime64[s]")
    pd.DataFrame({
        "warc_ts": pd.Series(sentinel_ts),
        "lang": np.array(["en"]), "n_chars": np.array([1.0]),
    }).to_parquet(os.path.join(src, "zz-sentinel.parquet"))

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    # watermark must exceed the 3 h event-time spread of the shuffled files
    # (else later files' rows for already-closed windows are dropped as
    # late); the sentinel sits 21 h ahead so watermark = sentinel - 10 h
    # still passes every real window end and closes them all
    out = streaming_tdigest_final(
        stream, ["lang"], "n_chars", ts_col="warc_ts",
        window="1 hour", watermark="10 hours", delta=0.0,
    )
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(
            ((r["lang"], r["window_start"]), bytes(r["digest"]))
            for r in batch_df.collect()
        )

    q = out.writeStream.outputMode("append").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    keys = [k for k, _ in emitted]
    assert len(keys) == len(set(keys)), "window emitted more than once"

    batch = static.filter(F.col("warc_ts") < "2025-03-02").withColumn(
        "_w", F.window("warc_ts", "1 hour")
    ).select("lang", F.col("_w.start").alias("window_start"), "n_chars")
    ref = {
        (r["lang"], r["window_start"]): bytes(r["digest"])
        for r in tdigest_aggregate(
            batch, ["lang", "window_start"], "n_chars", delta=0.0
        ).collect()
    }
    got = dict(emitted)
    # every real window must have been flushed (got may additionally hold the
    # sentinel's own window, which ref excludes)
    assert set(ref).issubset(set(got))
    for k in ref:
        assert got.get(k) == ref[k], f"window {k} digest mismatch or missing"


def test_streaming_digests_match_batch(spark, tmp_path):
    from sketchlib.spark.streaming import streaming_tdigest
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_chunks(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"  # force 4 incremental triggers
    ).parquet(src)

    out = streaming_tdigest(
        stream, ["lang"], "n_chars", ts_col="warc_ts",
        window="1 hour", watermark="10 hours", delta=0.0,
    )

    latest = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[(r["lang"], r["window_start"])] = bytes(r["digest"])

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    # batch reference: exact digests per (lang, hour window)
    from pyspark.sql import functions as F

    batch = static.withColumn("_w", F.window("warc_ts", "1 hour")).select(
        "lang", F.col("_w.start").alias("window_start"), "n_chars"
    )
    ref = {
        (r["lang"], r["window_start"]): bytes(r["digest"])
        for r in tdigest_aggregate(
            batch, ["lang", "window_start"], "n_chars", delta=0.0
        ).collect()
    }
    assert set(latest) == set(ref)
    assert len(ref) == 6  # 2 langs x 3 hour-windows
    for k in ref:
        assert latest[k] == ref[k], f"stream/batch digest mismatch for {k}"


def test_streaming_production_delta_rank_error(spark, tmp_path):
    """The production path (delta=0.01, compressed state) through streaming:
    every emitted window digest must satisfy the t-digest accuracy law
    |rank(estimate) - p| <= delta against the exact rows of its window
    (reference law, test/test_tdigest.ml:137-154) — not just the exact-mode
    byte-equality the other tests pin."""
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_tdigest
    from sketchlib.tdigest.core import MergingDigest

    src = str(tmp_path / "srcp")
    os.makedirs(src)
    _write_chunks(src, n_files=4, rows_per=800)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_tdigest(
        stream, ["lang"], "n_chars", ts_col="warc_ts",
        window="1 hour", watermark="10 hours", delta=0.01,
    )
    latest = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[(r["lang"], r["window_start"])] = bytes(r["digest"])

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    rows = static.withColumn("_w", F.window("warc_ts", "1 hour")).select(
        "lang", F.col("_w.start").alias("ws"), "n_chars"
    ).collect()
    per_window = {}
    per_window_setdefault = per_window.setdefault
    for r in rows:
        per_window_setdefault((r["lang"], r["ws"]), []).append(float(r["n_chars"]))

    assert set(latest) == set(per_window)
    for key, vals in per_window.items():
        vals = np.asarray(vals)
        d = MergingDigest.deserialize(latest[key], delta=0.01)
        assert abs(d.count - len(vals)) < 1e-9
        for p in (0.1, 0.5, 0.9, 0.99):
            est = float(d.quantile([p])[0])
            lo = float(np.sum(vals < est)) / len(vals)
            hi = float(np.sum(vals <= est)) / len(vals)
            # the estimate's attributable rank interval must meet [p±delta]
            assert hi >= p - 0.01 and lo <= p + 0.01, (key, p, est, lo, hi)


@pytest.mark.parametrize("seed", [123, 7, 99])
def test_streaming_sessions_match_batch(spark, tmp_path, seed):
    """streaming_sessions must reproduce the batch lag+cumsum session stats
    (q_event_sessions semantics) on the same input, fed out of order across
    4 file triggers — including late events that EXTEND or BRIDGE sessions.
    A far-future sentinel (fresh user) pushes the watermark past every real
    session's close so all of them emit within processAllAvailable().
    Parameterized over arrival shuffles/user mixes (property-style)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_sessions

    rng = np.random.default_rng(seed)
    base = np.datetime64("2025-03-01T00:00:00")
    n = 1200
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 25, n).astype("int64"),
        # clustered arrivals with multi-hour quiet stretches → real sessions
        "ts": pd.Series(
            base
            + (rng.integers(0, 40, n) * 3600
               + rng.integers(0, 2400, n)).astype("timedelta64[s]")
        ),
    })
    src = str(tmp_path / f"sess{seed}")
    os.makedirs(src)
    # shuffle rows, split into 4 files: arrival order is decoupled from
    # event time, so sessions grow/bridge via late events
    shuffled = pdf.sample(frac=1.0, random_state=seed + 1).reset_index(drop=True)
    for f in range(4):
        shuffled.iloc[f::4].to_parquet(os.path.join(src, f"chunk-{f}.parquet"))
    pd.DataFrame({
        "user_id": np.array([999_999], dtype="int64"),
        "ts": pd.Series(np.array(["2025-03-20T00:00:00"], dtype="datetime64[s]")),
    }).to_parquet(os.path.join(src, "zz-sentinel.parquet"))

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_sessions(stream, "user_id", "ts", gap_s=1800,
                             watermark="200 hours")
    got = []
    q = out.writeStream.outputMode("append").foreachBatch(
        lambda bdf, _id: got.extend(bdf.collect())
    ).start()
    q.processAllAvailable()
    q.stop()

    sessions = [r for r in got if r["user_id"] != 999_999]
    key = lambda r: (r["user_id"], r["session_start_s"])  # noqa: E731
    assert len({key(r) for r in sessions}) == len(sessions), "dup session"

    # batch oracle: same lag+cumsum shape as q_event_sessions
    from pyspark.sql import Window

    ev = static.filter(F.col("user_id") != 999_999).select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es")
    gap = F.col("es") - F.lag("es").over(w)
    ref = (
        ev.withColumn("_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("_new").over(w))
        .groupBy("user_id", "sid")
        .agg(F.min("es").alias("s"), F.max("es").alias("e"),
             F.count("*").alias("n"))
        .collect()
    )
    want = {(r["user_id"], r["s"]): (r["e"], r["n"]) for r in ref}
    have = {key(r): (r["session_end_s"], r["n_events"]) for r in sessions}
    assert have == want


def test_streaming_sibling_sketches_match_batch(spark, tmp_path):
    """streaming_sketch: windowed HLL/CMS/Bloom states must be byte-identical
    to the batch two-phase build over the same rows (all three are
    order-insensitive merges), and KLL quantiles must stay within tolerance
    of exact (its compaction is order-dependent, so bytes may differ)."""
    from pyspark.sql import functions as F

    from sketchlib.kll import KLL
    from sketchlib.spark.sketch_ops import sketch_aggregate
    from sketchlib.spark.streaming import streaming_sketch

    src = str(tmp_path / "srcs")
    os.makedirs(src)
    _write_chunks(src, n_files=3)
    # one more chunk holding NULL n_chars: a NULL is never ingested (the
    # JVM-side xxhash64(NULL) is 42, not NULL), in the stream as in batch
    nulls = pd.read_parquet(os.path.join(src, "chunk-0.parquet")).head(40)
    nulls["n_chars"] = nulls["n_chars"].where(np.arange(40) % 2 == 1)
    nulls.to_parquet(os.path.join(src, "chunk-3.parquet"))
    static = spark.read.parquet(src)
    batch = static.withColumn("_w", F.window("warc_ts", "1 hour")).select(
        "lang", F.col("_w.start").alias("window_start"), "n_chars"
    )

    for kind, params in (("hll", {"p": 12}), ("cms", {"width": 2048, "depth": 5}),
                         ("bloom", {"expected_n": 4000, "fpr": 0.01}),
                         ("kmv", {"k": 128}),
                         ("dd", {"alpha": 0.02, "max_bins": 512})):
        stream = spark.readStream.schema(static.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        out = streaming_sketch(stream, ["lang"], "n_chars", kind, params,
                               ts_col="warc_ts", window="1 hour",
                               watermark="10 hours")
        latest = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                latest[(r["lang"], r["window_start"])] = bytes(r["sketch"])

        q = out.writeStream.outputMode("update").foreachBatch(sink).start()
        q.processAllAvailable()
        q.stop()
        ref = {
            (r["lang"], r["window_start"]): bytes(r["sketch"])
            for r in sketch_aggregate(
                batch, ["lang", "window_start"], "n_chars", kind, params
            ).collect()
        }
        assert set(latest) == set(ref), kind
        for k in ref:
            assert latest[k] == ref[k], (kind, k)

    # KLL: tolerance vs exact per-window median
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_sketch(stream, ["lang"], "n_chars", "kll", {"k": 200},
                           ts_col="warc_ts", window="1 hour",
                           watermark="10 hours")
    latest = {}
    q = out.writeStream.outputMode("update").foreachBatch(
        lambda bdf, _id: latest.update(
            {(r["lang"], r["window_start"]): bytes(r["sketch"])
             for r in bdf.collect()})
    ).start()
    q.processAllAvailable()
    q.stop()
    rows = batch.collect()
    vals = {}
    for r in rows:
        vs = vals.setdefault((r["lang"], r["window_start"]), [])
        if r["n_chars"] is not None:
            vs.append(r["n_chars"])
    assert set(latest) == set(vals)
    for k, vs in vals.items():
        vs = np.sort(np.asarray(vs))
        est = float(np.atleast_1d(KLL.deserialize(latest[k]).quantile([0.5]))[0])
        rank = np.searchsorted(vs, est, side="right") / len(vs)
        assert abs(rank - 0.5) < 0.05, (k, est, rank)


def test_streaming_exact_dedup_first_wins(spark, tmp_path):
    """streaming_exact_dedup: across triggers, exactly one row survives per
    distinct text (Spark's native stateful dedup), and the surviving set of
    content hashes equals the batch distinct set."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "dd")
    os.makedirs(src)
    base = np.datetime64("2025-03-01T00:00:00")
    texts = [f"document body {i % 7}" for i in range(40)]  # 7 distinct
    for f in range(4):
        pd.DataFrame({
            "doc_id": np.arange(f * 10, f * 10 + 10, dtype="int64"),
            "warc_ts": pd.Series(base + np.arange(10).astype("timedelta64[s]")),
            "text": texts[f * 10:(f + 1) * 10],
        }).to_parquet(os.path.join(src, f"chunk-{f}.parquet"))

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    got = []
    q = (streaming_exact_dedup(stream, "text", "warc_ts", watermark="1 hour")
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: got.extend(bdf.collect())).start())
    q.processAllAvailable()
    q.stop()

    hashes = [r["content_hash"] for r in got]
    assert len(hashes) == len(set(hashes)) == 7
    want = {r[0] for r in static.select(
        F.md5(F.encode("text", "UTF-8"))).distinct().collect()}
    assert set(hashes) == want
    # schema keeps the non-text columns
    assert {"content_hash", "doc_id", "warc_ts"} <= set(got[0].asDict())


def test_streaming_mg_matches_batch(spark, tmp_path):
    """streaming_sketch('mg'): windowed frequent-items state must be
    byte-identical to the batch two-phase build over the same rows — MG is
    exact (hence order-insensitive and canonical-serialized) while the
    item domain stays under capacity."""
    from pyspark.sql import functions as F

    from sketchlib.mg import MisraGries
    from sketchlib.spark.sketch_ops import sketch_aggregate
    from sketchlib.spark.streaming import streaming_sketch

    src = str(tmp_path / "srcs_mg")
    os.makedirs(src)
    _write_chunks(src, n_files=3)
    static = spark.read.parquet(src).withColumn(
        "item", (F.col("n_chars").cast("long") % 16).cast("string")
    )
    batch = static.withColumn("_w", F.window("warc_ts", "1 hour")).select(
        "lang", F.col("_w.start").alias("window_start"), "item"
    )
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src).withColumn(
        "item", (F.col("n_chars").cast("long") % 16).cast("string")
    )
    out = streaming_sketch(stream, ["lang"], "item", "mg", {"m": 64},
                           ts_col="warc_ts", window="1 hour",
                           watermark="10 hours")
    latest = {}
    q = out.writeStream.outputMode("update").foreachBatch(
        lambda bdf, _id: latest.update(
            {(r["lang"], r["window_start"]): bytes(r["sketch"])
             for r in bdf.collect()})
    ).start()
    q.processAllAvailable()
    q.stop()
    ref = {
        (r["lang"], r["window_start"]): bytes(r["sketch"])
        for r in sketch_aggregate(
            batch, ["lang", "window_start"], "item", "mg", {"m": 64}
        ).collect()
    }
    assert set(latest) == set(ref)
    for k in ref:
        assert latest[k] == ref[k], k
    # and the counts are the exact per-window item counts
    some = next(iter(ref))
    exact = {
        r["item"]: r["c"]
        for r in batch.filter(
            (F.col("lang") == some[0]) & (F.col("window_start") == some[1])
        ).groupBy("item").agg(F.count("*").alias("c")).collect()
    }
    assert dict(MisraGries.deserialize(ref[some]).items()) == exact


def test_streaming_bloom_decontam_matches_batch(spark, tmp_path):
    """bloom_decontam_flags is a stateless projection: the SAME function
    over a readStream (any trigger slicing) yields exactly the batch flags,
    and the Bloom's no-false-negative law holds against the exact batch
    contamination."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import (
        bloom_decontam_flags,
        contamination_hits,
        eval_ngram_bloom,
    )

    src = str(tmp_path / "bd")
    os.makedirs(src)
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, 30)) for _ in range(80)]
    for f in range(4):
        pd.DataFrame({
            "doc_id": np.arange(f * 20, f * 20 + 20, dtype="int64"),
            "text": texts[f * 20:(f + 1) * 20],
        }).to_parquet(os.path.join(src, f"chunk-{f}.parquet"))

    static = spark.read.parquet(src)
    train = static.filter("doc_id % 5 != 0")
    ev = static.filter("doc_id % 5 = 0")
    blob = eval_ngram_bloom(ev, ngram=3, fpr=1e-4)

    batch = {r["doc_id"]: r["contaminated"]
             for r in bloom_decontam_flags(train, blob, ngram=3).collect()}

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src).filter("doc_id % 5 != 0")
    got = []
    q = (bloom_decontam_flags(stream, blob, ngram=3)
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: got.extend(bdf.collect())).start())
    q.processAllAvailable()
    q.stop()
    streamed = {r["doc_id"]: r["contaminated"] for r in got}
    assert streamed == batch

    # no false negatives vs exact containment
    truth = {r["doc_id"]: r["n_hits"] > 0
             for r in contamination_hits(train, ev, ngram=3).collect()}
    assert set(truth) == set(batch)
    for i, is_contam in truth.items():
        if is_contam:
            assert batch[i], f"false negative at doc {i}"


def test_streaming_sliding_windows_match_batch(spark, tmp_path):
    """slide= turns the windows sliding: every value lands in its
    window/slide overlapping windows, and each (lang, window) digest must
    byte-equal the batch build over the exploded sliding assignment."""
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_tdigest
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_chunks(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)

    out = streaming_tdigest(
        stream, ["lang"], "n_chars", ts_col="warc_ts",
        window="1 hour", slide="20 minutes", watermark="10 hours", delta=0.0,
    )
    latest = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[(r["lang"], r["window_start"])] = bytes(r["digest"])

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    batch = static.withColumn(
        "_w", F.window("warc_ts", "1 hour", "20 minutes")
    ).select("lang", F.col("_w.start").alias("window_start"), "n_chars")
    ref = {
        (r["lang"], r["window_start"]): bytes(r["digest"])
        for r in tdigest_aggregate(
            batch, ["lang", "window_start"], "n_chars", delta=0.0
        ).collect()
    }
    assert set(latest) == set(ref)
    # 3h of data in 1h windows sliding by 20min -> ~11 windows per lang
    assert len(ref) >= 2 * 9
    for key in ref:
        assert latest[key] == ref[key], f"sliding stream/batch mismatch {key}"


def test_sliding_from_tumbling_two_level(spark, tmp_path):
    """The storage-side alternative: tumbling digests at slide grain,
    sliding windows derived by pure-JVM byte-concat of the trailing k blobs
    — canonicalized, they must equal a direct delta=0 build over each
    sliding window's raw rows."""
    from pyspark.sql import functions as F

    from sketchlib.spark.tdigest_ops import sliding_from_tumbling, tdigest_aggregate
    from sketchlib.tdigest.core import MergingDigest

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_chunks(src)
    static = spark.read.parquet(src)

    # level 1: tumbling 20-minute digests (the stored slide grain)
    grain = static.withColumn("_w", F.window("warc_ts", "20 minutes")).select(
        "lang", F.col("_w.start").alias("window_start"), "n_chars"
    )
    tumbling = tdigest_aggregate(grain, ["lang", "window_start"], "n_chars",
                                 delta=0.0)
    # level 2: 1-hour sliding (k=3 x 20 min), derived without any rescans
    sliding = sliding_from_tumbling(
        tumbling, ["lang"], k=3, slide_seconds=20 * 60
    )
    got = {
        (r["lang"], r["slide_end_start"]):
            (bytes(r["sliding_digest"]), r["n_slides"])
        for r in sliding.collect()
    }

    # reference: direct build over the raw rows of each trailing-1h window,
    # anchored at every populated 20-min slide start
    ref_src = static.withColumn("_w", F.window("warc_ts", "20 minutes")).select(
        "lang", F.col("_w.start").alias("anchor"), "warc_ts", "n_chars"
    )
    anchors = [(r["lang"], r["anchor"])
               for r in ref_src.select("lang", "anchor").distinct().collect()]
    assert set(got) == set(anchors)
    pdf = static.toPandas()
    for (lang, anchor), (blob, n_slides) in got.items():
        lo = anchor - pd.Timedelta(minutes=40)
        hi = anchor + pd.Timedelta(minutes=20)
        vals = pdf[(pdf["lang"] == lang) & (pdf["warc_ts"] >= lo)
                   & (pdf["warc_ts"] < hi)]["n_chars"].to_numpy()
        d = MergingDigest.deserialize(blob, delta=0.0)
        want = MergingDigest(delta=0.0)
        want.update_batch(vals)
        # canonicalize the concat before comparing bytes
        canon = MergingDigest(delta=0.0)
        canon.merge_bytes(blob)
        assert bytes(canon.serialize()) == bytes(want.serialize()), (lang, anchor)
        assert 1 <= n_slides <= 3


def test_streaming_drift_monitor_matches_batch(spark, tmp_path):
    """streaming_drift_monitor: per-window digests vs a stored baseline as
    a stream.  Discrete mode -> every ks/psi/jsd equals the batch-computed
    statistic exactly; a key absent from the baseline is flagged; the PSI
    gate fires where a loosened KS gate can't."""
    from pyspark.sql import functions as F

    from sketchlib.spark.streaming import streaming_drift_monitor
    from sketchlib.spark.tdigest_ops import (
        tdigest_aggregate,
        tdigest_ks_udf,
        tdigest_psi_jsd_udf,
        tdigest_w1_udf,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_chunks(src)
    static = spark.read.parquet(src)

    # baseline: the "en" slice only -> "de" windows have no baseline row
    baseline = tdigest_aggregate(
        static.filter("lang = 'en'"), ["lang"], "n_chars", discrete=True
    )

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_drift_monitor(
        stream, ["lang"], "n_chars", baseline,
        ts_col="warc_ts", window="1 hour", watermark="10 hours",
        discrete=True, ks_threshold=0.99, psi_threshold=0.25,
    )
    latest = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[(r["lang"], r["window_start"])] = r

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    # batch reference: same digests, same UDFs
    batch = static.withColumn("_w", F.window("warc_ts", "1 hour")).select(
        "lang", F.col("_w.start").alias("window_start"), "n_chars"
    )
    pj = tdigest_psi_jsd_udf()
    ref = {
        (r["lang"], r["window_start"]): r
        for r in tdigest_aggregate(
            batch, ["lang", "window_start"], "n_chars", discrete=True
        )
        .join(
            F.broadcast(baseline.select(
                "lang", F.col("digest").alias("_b"))),
            ["lang"], "left",
        )
        .select(
            "lang", "window_start",
            tdigest_ks_udf("digest", "_b").alias("ks"),
            tdigest_w1_udf("digest", "_b").alias("w1"),
            pj("digest", "_b").alias("_pj"),
        ).collect()
    }
    assert set(latest) == set(ref) and len(ref) == 6
    for k, r in ref.items():
        got = latest[k]
        if k[0] == "de":  # no baseline row -> NULL stats, flagged
            assert got["ks"] is None and got["psi"] is None
            assert got["w1"] is None
            assert got["drifted"]
        else:
            assert got["ks"] == r["ks"]  # bit-identical digests + same UDF
            assert got["w1"] == r["w1"]
            assert (got["psi"], got["jsd"]) == tuple(r["_pj"])
            # en windows vs the full-en baseline: KS gate (0.99) can't
            # fire; drift iff PSI says so
            assert got["drifted"] == (got["psi"] > 0.25)
    assert any(v["drifted"] for v in latest.values())
