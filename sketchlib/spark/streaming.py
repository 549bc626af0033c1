"""Structured Streaming sketch aggregation (SURVEY.md §2.9 / §7 step 10).

Sketches are one-pass bounded-memory stream summaries (reference
README.md:19-21) with no time semantics of their own; Spark supplies the
time axis.  Every operator here keys a stateful aggregation by
(group keys × event-time window) and holds exactly one serialized sketch as
per-key state:

  readStream -> withWatermark(ts) -> groupBy(keys, window)
             -> applyInPandasWithState(update sketch state) -> writeStream

State per key is the serialized sketch (≤40 KB for a digest), so a million
live windows cost ~40 GB of state across the cluster — bounded, spillable
via RocksDB state store.  Late rows inside the watermark merge losslessly
into the window's sketch (mergeability is what makes out-of-order ingest
exact); rows later than the watermark are dropped by Spark upstream.  Once
the watermark passes a window's end its state is evicted (EventTimeTimeout)
— in Update mode silently (snapshots were already emitted per trigger), in
Append mode by emitting the finished sketch exactly once.

In exact mode (delta=0.0 / discrete) the emitted digest for a window is
byte-identical to the batch build over the same rows, regardless of trigger
boundaries or arrival order — asserted in tests/test_streaming.py; the same
holds for the order-insensitive sibling sketches (HLL/CMS/Bloom/KMV).

Every windowed sketch operator (``streaming_tdigest``,
``streaming_tdigest_final``, ``streaming_sketch`` and, through them,
``streaming_drift_monitor``) is one plan spec driven through one skeleton
(``_stateful_windowed``): the projection, the per-batch read and the sketch
update are the batch plan's own (``sketch_ops._project``/``_spec_vals``/
``_update``), and the empirically-measured timezone and timeout semantics
live in ONE place.  Two further streaming pipeline ops live
here: ``streaming_sessions`` (gap-based session windows with full
late-event bridge/extend semantics, custom interval-merge state) and
``streaming_exact_dedup`` (Spark's native stateful ``dropDuplicates`` on
the content hash, watermark-bounded state).
"""

from __future__ import annotations

from datetime import timezone
from typing import Iterable, Iterator
from zoneinfo import ZoneInfo

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from sketchlib.spark.sketch_ops import (
    SKETCHES,
    _check_specs,
    _project,
    _spec,
    _spec_vals,
    _update,
)


def _session_tz(df: DataFrame):
    """The session timezone as a tzinfo: IANA names via ZoneInfo (including
    fixed offsets spelled 'Etc/GMT-8'), plus defensive parsing of
    'GMT+08:00'/'UTC+8'/'+08:00' offset strings.  Note PySpark's own
    pandas/Arrow serializers resolve the session tz through pytz and REJECT
    the non-IANA offset spellings outright (pytz.UnknownTimeZoneError deep
    in applyInPandasWithState), so the ZoneInfo path is the operative one —
    the offset parser only matters if Spark ever starts accepting them.
    None for unparseable values (then naive outputs pass through unchanged —
    matching a UTC session)."""
    import re
    from datetime import timedelta

    name = df.sparkSession.conf.get("spark.sql.session.timeZone")
    try:
        return ZoneInfo(name)
    except (KeyError, ValueError):
        pass
    m = re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?", name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return timezone(sign * timedelta(hours=int(m.group(2)),
                                         minutes=int(m.group(3) or 0)))
    return None


def _epoch_ms(dt) -> int:
    """Epoch millis of a window bound taken from a state key.

    ``applyInPandasWithState`` hands grouping-key timestamps to Python as
    *UTC-naive* datetimes (measured on PySpark 4.1: the key Timestamp equals
    the UTC window bound regardless of ``spark.sql.session.timeZone`` and of
    the process TZ) — so attach UTC explicitly.  Naive ``.timestamp()`` would
    interpret them in the process's system timezone, offsetting the
    event-time timeout by the tz delta; when that lands in the past, the
    watermark clamp fires the timeout early — emitting a partial digest and
    breaking emit-exactly-once.
    """
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _key_ts_out(dt, tz):
    """Convert a UTC-naive state-key timestamp into the form the *output*
    serializer expects.

    Asymmetry measured on PySpark 4.1: keys come in UTC-naive, but naive
    timestamps yielded into an output TimestampType column are interpreted
    in ``spark.sql.session.timeZone`` — echoing the key unchanged would
    shift the emitted window bound by the session-tz offset.  Re-render the
    UTC wall time as session-tz wall time so the round trip is the identity.
    """
    if dt.tzinfo is not None or tz is None:
        return dt
    return dt.replace(tzinfo=timezone.utc).astimezone(tz).replace(tzinfo=None)


def _stateful_windowed(
    stream: DataFrame,
    keys: list[str],
    spec: dict,
    out_name: str,
    ts_col: str,
    window: str,
    watermark: str,
    mode: str,
    slide: str | None = None,
) -> DataFrame:
    """The shared skeleton: windowed keying, watermarking, per-key serialized
    sketch state, event-time timeout eviction, tz-corrected emission.

    ``slide`` (< ``window``) turns the tumbling windows into SLIDING ones:
    Spark's TimeWindowing Expand assigns each row to its window/slide
    overlapping windows, and everything downstream (state keying, timeout
    at window_end, emission) is already per-(key x window) so it applies
    unchanged.  Cost model: each value is ingested window/slide times and
    live state holds window/slide digests per key — fine for KB sketches,
    and the reason this parameter exists here rather than on a raw-rows
    aggregation.  (The even-cheaper two-level alternative that mergeability
    enables — build slide-grain tumbling digests, merge the trailing k per
    emission — is `sliding_from_tumbling` in tdigest_ops for stored
    digests.)

    ``mode='update'``: emit a snapshot row per touched window per trigger;
    on timeout just evict.  ``mode='append'``: emit nothing until the
    watermark passes window_end, then emit the finished sketch exactly once
    and evict.

    ``spec`` is a plan spec (``kind``, ``col``, ``params``; see
    ``sketch_ops.profile_partials``).  The window's values are projected,
    read and ingested exactly as the batch plan does it (pre-hash plus null
    mask for hashed kinds, string/double casts otherwise), and state is
    restored with ``cls.deserialize(blob, **params)`` — so a window's
    sketch is the batch plan's sketch over the same rows.
    """
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(stream.sparkSession)
    _check_specs([spec])
    cls = SKETCHES[spec["kind"]]
    params = dict(spec.get("params") or {})
    tz = _session_tz(stream)
    windowed = (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn("_win", F.window(F.col(ts_col), window, slide or window))
        .withColumn("window_start", F.col("_win.start"))
        .withColumn("window_end", F.col("_win.end"))
    )
    # the watermarked column must survive to the stateful operator for
    # EventTimeTimeout to be legal
    keyed = _project(windowed, keys + ["window_start", "window_end", ts_col], [spec])
    key_fields = [keyed.schema[k] for k in keys]
    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in key_fields]
        + [
            StructField("window_start", TimestampType(), True),
            StructField("window_end", TimestampType(), True),
            StructField(out_name, BinaryType(), True),
        ]
    )
    state_schema = StructType([StructField(out_name, BinaryType(), True)])

    def row_of(key, blob: bytes) -> pd.DataFrame:
        out = {name: [key[i]] for i, name in enumerate(keys)}
        out["window_start"] = [_key_ts_out(key[len(keys)], tz)]
        out["window_end"] = [_key_ts_out(key[len(keys) + 1], tz)]
        out[out_name] = [blob]
        return pd.DataFrame(out)

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the watermark passed window_end: Spark drops any further rows
            # for this window upstream, so the state can never grow again
            blob = state.get[0] if state.exists else None
            state.remove()
            if mode == "append" and blob:
                yield row_of(key, bytes(blob))
            return
        prev = None
        if state.exists:
            (b,) = state.get
            if b:
                prev = bytes(b)
        agg = cls.deserialize(prev, **params) if prev else cls(**params)
        for pdf in pdfs:
            _update(agg, *_spec_vals(spec, pdf, 0), slice(None))
        blob = agg.serialize()
        state.update((blob,))
        # (re)arm the timeout at window_end (epoch ms from the UTC-naive
        # key — see _epoch_ms); a timeout may not be set behind the current
        # watermark, so clamp — the clamped case means the window is already
        # closed and fires on the next trigger
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(_epoch_ms(key[len(keys) + 1]), wm + 1))
        if mode == "update":
            yield row_of(key, blob)

    return keyed.groupBy(*keys, "window_start", "window_end").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_tdigest(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    delta: float = 0.01,
    discrete: bool = False,
    slide: str | None = None,
) -> DataFrame:
    """Per-(keys × time-window) t-digest over a streaming DataFrame.

    Emits on every trigger (Update mode) one row per touched window:
    (keys..., window_start, window_end, digest).  The digest column is the
    same wire format as the batch path, so downstream quantile/CDF UDFs and
    merges apply unchanged.  ``slide`` makes the windows sliding ("p99 over
    the trailing hour, every 5 minutes") — see ``_stateful_windowed``.
    """
    return _stateful_windowed(
        stream, keys,
        _spec("tdigest", {"delta": delta, "discrete": discrete}, col=value_col),
        "digest", ts_col, window, watermark, mode="update", slide=slide,
    )


def streaming_tdigest_final(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    delta: float = 0.01,
    discrete: bool = False,
    slide: str | None = None,
) -> DataFrame:
    """Window-close variant: each (keys × window) digest is emitted exactly
    ONCE, when the event-time watermark passes the window end — the append
    shape downstream sinks (Iceberg appends, Kafka) want, vs the per-trigger
    snapshots of ``streaming_tdigest``.

    Mechanics: rows accumulate into the per-group digest state; on every
    update the group's event-time timeout is (re)armed at window_end, so
    Spark calls the function one final time with no rows once the watermark
    crosses it — that call emits the finished digest and drops the state.
    Until then the function emits nothing.
    """
    return _stateful_windowed(
        stream, keys,
        _spec("tdigest", {"delta": delta, "discrete": discrete}, col=value_col),
        "digest", ts_col, window, watermark, mode="append", slide=slide,
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document per content hash
    (md5 of the text, matching ``dedup.exact_dedup_keepers``'s grouping),
    with duplicate suppression state bounded by the watermark horizon.

    Entirely built-in: ``dropDuplicatesWithinWatermark`` is Spark's native
    stateful dedup operator WITH watermark-driven state eviction — the
    hash is computed JVM-side, the state store holds one 16-byte key per
    distinct hash inside the horizon, and entries whose event time falls
    behind the watermark are evicted.  (Plain ``dropDuplicates`` on a
    non-time key would retain one entry per distinct hash EVER seen —
    unbounded on a long-running ingest.)  At web scale the state is
    therefore bounded by (ingest rate × horizon) distinct hashes, not
    corpus size; for whole-corpus dedup run the batch operator on the
    accumulated table.  Late duplicates beyond the horizon re-emit (the
    documented streaming-dedup trade; exactly Spark's own semantics).
    """
    cols = keep_cols or [c for c in stream.columns if c != text_col]
    hashed = (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn("content_hash", F.md5(F.encode(F.col(text_col), "UTF-8")))
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"]).select(
        "content_hash", *dict.fromkeys(cols)
    )


def _merge_sessions(starts, lasts, ns, gap_s: int):
    """Merge (start, last, n_events) interval triples whose gaps are
    ≤ gap_s — fully vectorized (argsort + cummax + reduceat segment
    reduction), no per-row Python.  Events enter as degenerate (t, t, 1)
    intervals; merging is associative and handles a late event BRIDGING two
    previously-separate sessions, which is why sessions may only close once
    the watermark has passed last_event + gap."""
    import numpy as np

    order = np.argsort(starts, kind="stable")
    s, l, n = starts[order], lasts[order], ns[order]
    cm = np.maximum.accumulate(l)
    new_seg = np.ones(len(s), dtype=bool)
    if len(s) > 1:
        new_seg[1:] = s[1:] > cm[:-1] + gap_s
    idx = np.nonzero(new_seg)[0]
    return s[idx], np.maximum.reduceat(l, idx), np.add.reduceat(n, idx)


def streaming_sessions(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: one output row per CLOSED session —
    (user, session_start_s, session_end_s, n_events, duration_s), epoch
    seconds.  The streaming analog of the batch ``q_event_sessions``
    lag+cumsum plan (queries.py), with identical gap semantics.

    Semantics (mirrors Spark's session_window rules, custom state so the
    session carries an event count):

    - state per user = the set of OPEN sessions as (start, last, n) epoch-
      second triples (one int64 blob; sessions within the watermark horizon,
      so the set is small and bounded by horizon/gap);
    - new events merge in as degenerate intervals — a late event can extend
      a session OR bridge two (the vectorized interval-merge handles both);
    - a session is emitted exactly once, when the event-time watermark
      passes its last event + gap (checked on every update; an event-time
      timeout armed at the earliest such close time guarantees emission
      even if the user goes quiet).

    Epoch seconds are projected JVM-side (``unix_timestamp``) so no
    timestamp crosses the Arrow state boundary in either direction — the
    tz asymmetries documented on ``_epoch_ms``/``_key_ts_out`` are
    sidestepped entirely.
    """
    import numpy as np

    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(stream.sparkSession)
    keyed = (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .select(
            F.col(user_col).alias("_user"),
            F.unix_timestamp(F.col(ts_col)).alias("_es"),
            F.col(ts_col),  # watermarked column must reach the operator
        )
    )
    user_field = keyed.schema["_user"]
    out_schema = StructType([
        StructField(user_col, user_field.dataType, True),
        StructField("session_start_s", LongType(), True),
        StructField("session_end_s", LongType(), True),
        StructField("n_events", LongType(), True),
        StructField("duration_s", LongType(), True),
    ])
    state_schema = StructType([StructField("sessions", BinaryType(), True)])

    def _load(state) -> tuple:
        if state.exists:
            (blob,) = state.get
            if blob:
                arr = np.frombuffer(bytes(blob), dtype=np.int64).reshape(-1, 3)
                return arr[:, 0].copy(), arr[:, 1].copy(), arr[:, 2].copy()
        z = np.empty(0, dtype=np.int64)
        return z, z, z

    def _rows(user, s, l, n) -> pd.DataFrame:
        return pd.DataFrame({
            user_col: np.repeat(user, len(s)),
            "session_start_s": s,
            "session_end_s": l,
            "n_events": n,
            "duration_s": l - s,
        })

    def _finish(state, user, s, l, n, wm_s: int):
        """Emit closed sessions, persist/arm the rest."""
        closed = l + gap_s < wm_s
        out = _rows(user, s[closed], l[closed], n[closed]) if closed.any() else None
        s, l, n = s[~closed], l[~closed], n[~closed]
        if len(s):
            state.update((np.column_stack([s, l, n]).tobytes(),))
            state.setTimeoutTimestamp(
                max(int(l.min() + gap_s + 1) * 1000, (wm_s + 1) * 1000)
            )
        elif state.exists:
            state.remove()
        return out

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        user = key[0]
        wm_s = state.getCurrentWatermarkMs() // 1000
        s, l, n = _load(state)
        if not state.hasTimedOut:
            es = [pdf["_es"].to_numpy(dtype=np.int64) for pdf in pdfs]
            new = np.concatenate(es) if es else np.empty(0, dtype=np.int64)
            if len(new):
                s = np.concatenate([s, new])
                l = np.concatenate([l, new])
                n = np.concatenate([n, np.ones(len(new), dtype=np.int64)])
        if len(s):
            s, l, n = _merge_sessions(s, l, n, gap_s)
        out = _finish(state, user, s, l, n, wm_s)
        if out is not None:
            yield out

    return keyed.groupBy("_user").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_drift_monitor(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    baseline: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    delta: float = 0.01,
    discrete: bool = False,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.0,
    slide: str | None = None,
    final: bool = False,
) -> DataFrame:
    """Streaming drift monitor: per-(keys × window) t-digests of the live
    ingest, compared against a STORED baseline digest table — "alert when
    today's ingest distribution departs from the released corpus", as a
    stream.  The operational streaming form of ``jobs/drift_monitor.py``.

    ``baseline`` is a static (keys..., digest) DataFrame — any
    ``tdigest_aggregate`` result or a ``jobs/build_digests.py`` output
    read back from parquet.  Mechanics: the windowed digest state runs in
    ``streaming_tdigest`` (Update snapshots; ``final=True`` switches to
    the emit-once Append shape of ``streaming_tdigest_final``), then a
    stream-static LEFT join against the KB-scale baseline — Spark plans
    the static side as a broadcast per micro-batch, so no streaming
    shuffle is added — and the same ``tdigest_ks_udf`` /
    ``tdigest_psi_jsd_udf`` scalar projections the batch job uses.

    Output: (keys..., window_start, window_end, n, ks, w1, psi, jsd,
    drifted) — ``w1`` is the 1-Wasserstein distance (drift in VALUE
    units) beside KS's largest CDF gap; both ride the same sketch rows.
    A window whose key has NO baseline row IS drift (count it the way the
    batch job counts appeared keys); otherwise drifted = ks > ks_threshold
    (or psi > psi_threshold when one is set).  With ``discrete=True`` and
    a discrete baseline every statistic is the exact KS/PSI/JSD of the
    window's rows vs the baseline data, and stream ≡ batch bit-for-bit
    (digests are byte-identical to the batch build; the UDFs are shared
    code) — asserted in tests/test_streaming.py.

    At 100 TB: state is one KB digest per live (key, window); the baseline
    join side is KB–MB and broadcast; the scalar UDFs run on sketch rows
    only.  Nothing in the plan scales with fact-row count except the
    one-pass windowed ingest itself.
    """
    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_ks_udf,
        tdigest_psi_jsd_udf,
        tdigest_w1_udf,
    )

    build = streaming_tdigest_final if final else streaming_tdigest
    digs = build(
        stream, keys, value_col, ts_col=ts_col, window=window,
        watermark=watermark, delta=delta, discrete=discrete, slide=slide,
    )
    base = baseline.select(*keys, F.col("digest").alias("_bdigest"))
    joined = digs.join(F.broadcast(base), keys, "left")
    pj = tdigest_psi_jsd_udf()("digest", "_bdigest")
    ks_gate = F.col("ks") > F.lit(ks_threshold)
    gate = (ks_gate | (F.col("psi") > F.lit(psi_threshold))
            if psi_threshold > 0 else ks_gate)
    return (
        joined.withColumn("ks", tdigest_ks_udf("digest", "_bdigest"))
        .withColumn("w1", tdigest_w1_udf("digest", "_bdigest"))
        .withColumn("psi", pj[0])
        .withColumn("jsd", pj[1])
        .select(
            *keys,
            "window_start",
            "window_end",
            tdigest_count_udf("digest").cast("long").alias("n"),
            "ks",
            "w1",
            "psi",
            "jsd",
            F.when(F.col("_bdigest").isNull(), F.lit(True))
            .otherwise(gate).alias("drifted"),
        )
    )


def streaming_sketch(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Per-(keys × event-time window) sketch of any ``SKETCHES`` family
    (hll/cms/bloom/kll/kmv/mg/dd, or tdigest) over a streaming DataFrame —
    ``streaming_tdigest`` generalized to the whole Aggregator family via the
    same skeleton and the batch plan's spec ingest.

    Hashing stays JVM-side (``xxhash64`` projection plus a null mask for the
    hashed sketches, exactly like ``sketchlib.spark.sketch_ops``), so
    stream- and batch-built sketches are interchangeable — byte-identical
    for the order-insensitive sketches (HLL/CMS/Bloom/KMV/DDSketch).
    """
    return _stateful_windowed(
        stream, keys, _spec(sketch, params, col=value_col),
        "sketch", ts_col, window, watermark, mode="update", slide=slide,
    )
