"""Catalog streaming operators built on Structured Streaming.

The daemon core — the heartbeat, the watermarked windowed rule
aggregation and its publish-time rollup — lives with the batch plan in
``operators/aggregate.py``, so each rule is compiled in one place. This
module holds the catalog's other streaming operators: publish-time
transforms (per-window top-k), streaming exact dedup, the events-table
replay to a memory sink, custom stateful operators (EWMA, t-digest quantiles,
heavy hitters, KMV distinct, drift and anomaly detectors, CDC apply,
capped sessions, ...), a stream-stream interval join, document
curation, and the dedup / index-maintenance sinks.

Windows and lag map onto Spark's the same way as in the daemon: the
reference windowSize (tumbling, epoch-aligned) is ``F.window`` and its
windowLag is the watermark delay; the state store + checkpointing give
the reference's no-data-loss / at-least-once replay semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monasca_aggregator_spark.models import AggregationSpec
from monasca_aggregator_spark.operators.aggregate import build_aggregation

def topk_per_window(k: int, *, by: str = "value"):
    """Publish-time transform: the top-``k`` groups per finalized
    window by ``by`` (continuous top-k — the streaming counterpart of
    the batch window-function top-k; ties broken by dimension string
    for determinism). Use with ``run_stream_with_publish`` over a
    windowed aggregation's output."""

    def _transform(batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        w = W.partitionBy("window_ts_ms", "tenant_id").orderBy(
            F.col(by).desc(), F.col("dimensions").cast("string").asc()
        )
        return (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    return _transform


def streaming_exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    *,
    ts_col: str = "timestamp",
    within: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each key.

    With ``within`` (e.g. "1 hour"), uses dropDuplicatesWithinWatermark
    so the dedup state is GC'd once the watermark passes — the only
    form that survives an unbounded stream. Without it, state grows
    forever (batch/testing only). This is the streaming face of
    operators.dedup.exact_dedup for continuous ingestion pipelines.
    """
    if within is not None:
        return df.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def run_events_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    spec: AggregationSpec,
    *,
    window_size_sec: int = 3600,
    lag_sec: int = 120,
    query_name: str = "agg_stream",
    output_mode: str = "complete",
) -> DataFrame:
    """Drive the events table through the streaming plan with an
    availableNow trigger into a memory sink; returns the final result
    as a batch DataFrame.

    File-source streaming replays the parquet as if it were the Kafka
    topic; ``complete`` mode emits every window (like replaying the
    whole topic from offset 0), which makes the result directly
    comparable to the batch plan / SQL oracle.
    """
    from monasca_aggregator_spark.sources.envelope import events_to_envelopes

    # raw (pre-normalization) schema: ts may be bigint ns or TIMESTAMP_NTZ
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    # file source preserves the raw parquet types; apply the same
    # ns→ts normalization load_table does for batch
    if dict(raw.dtypes)["ts"] == "bigint":
        # integer `div` (see sources.tables): double /1000 rounds ±1 µs
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    env = events_to_envelopes(raw)
    plan = build_aggregation(env, spec, window_size_sec, lag_sec)
    q = (
        plan.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def streaming_ewma(
    env: DataFrame,
    *,
    alpha: float = 0.2,
    key_cols: tuple[str, ...] = ("tenant_id", "name"),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-key exponentially
    weighted moving average (the smoothed-metric line every monitoring
    system draws; reference has no analog — this is where Spark's
    state store exceeds the reference's in-memory window cache).

    EWMA is an order-dependent fold, which no built-in streaming
    aggregate expresses — so this uses ``applyInPandasWithState``:
    state per key is a single (ewma, last_ts_ms) pair (O(1), GC-free),
    each micro-batch sorts its rows by event time and folds
    ``ewma = α·v + (1−α)·ewma`` forward, emitting one smoothed row per
    input row. Cross-batch order is the arrival order of micro-batches
    (exactly the reference's arrival-order semantics for delta/rate —
    the documented batch-side divergence, closed here on the streaming
    side).

    Emits (key..., ts_ms, value, ewma) in update mode.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, ts_ms bigint, value double, ewma double"
    )
    state_schema = "ewma double, last_ts_ms bigint"

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            ewma, last_ts = state.get
        else:
            ewma, last_ts = None, None
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("__ts_ms", kind="mergesort")
            for ts_ms, v in zip(pdf["__ts_ms"], pdf["__value"]):
                ewma = (
                    float(v)
                    if ewma is None
                    else alpha * float(v) + (1.0 - alpha) * ewma
                )
                last_ts = int(ts_ms)
                rows.append((*key, last_ts, float(v), ewma))
        state.update((ewma, last_ts))
        cols = [*key_cols, "ts_ms", "value", "ewma"]
        yield pd.DataFrame(rows, columns=cols)

    prepared = env.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        F.col(value_col).cast("double").alias("__value"),
    )
    return prepared.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_daily_active_users(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming EXACT DAU: distinct users per event-time day on a
    live stream. ``count(DISTINCT ...)`` is unsupported in streaming
    aggregations, so this uses the canonical two-stage rewrite:
    watermark-bounded ``dropDuplicates`` on (user, day) — state holds
    one row per distinct pair inside the watermark horizon, GC'd as
    the watermark advances — then an ordinary windowed count, which is
    algebraic and restart-safe. Exact, unlike the
    ``approx_count_distinct`` shortcut; the same rewrite is the 100 TB
    batch plan's shape too (pairs-then-count), so batch and stream
    share semantics by construction. Emits (day_ms, dau) in update
    mode.
    """
    day = F.date_trunc("day", F.col(ts_col))
    pairs = (
        events.select(F.col(key_col), day.alias("__day"))
        .withWatermark("__day", watermark)
        .dropDuplicates([key_col, "__day"])
    )
    return (
        pairs.groupBy("__day")
        .agg(F.count(F.lit(1)).alias("dau"))
        .select(F.unix_millis("__day").alias("day_ms"), "dau")
    )


def streaming_window_funnel(
    events: DataFrame,
    *,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    window_ms: int = 6 * 3600 * 1000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming windowFunnel: per key, the running MAX ordered-chain
    depth over ``steps`` completable within ``window_ms`` — the live
    counterpart of plans.insights.q_funnel_window_depth, with O(k)
    state per key. ``order_col`` is the deterministic intra-batch
    tie-breaker for equal timestamps (parameterized like the other
    stateful ops' key/ts/type columns — r3 ADVICE — so streams
    without an ``event_id`` column can name their own).

    State compression: for each reachable depth d < k the state keeps
    ONLY the chain with the LATEST start t0 (and its last-event time).
    That is lossless for in-order streams: a new event extends a
    depth-d chain iff ``last < ts ≤ t0 + W``; arriving events satisfy
    ``ts ≥ last`` for every stored chain (event-time order within the
    watermark, batch rows sorted, descending-depth application), so
    feasibility depends only on ``t0`` — and the max-``t0`` chain
    dominates. Expired chains (``t0 + W < ts``) are pruned; expiry of
    the max-``t0`` chain implies expiry of every chain at that depth.
    Same in-order caveat as the other stateful ops (state carries in
    micro-batch arrival order; sort-within-batch handles intra-batch
    disorder).

    Emits one ``(key, best_depth)`` row per key per micro-batch in
    update mode.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}
    out_schema = f"{key_col} bigint, best_depth int"
    # t0s/lasts index i ↔ an in-progress chain of depth i+1 (−1 = none)
    state_schema = "best int, t0s array<bigint>, lasts array<bigint>"

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            best, t0s, lasts = state.get
            t0s, lasts = list(t0s), list(lasts)
        else:
            best, t0s, lasts = 0, [-1] * (k - 1), [-1] * (k - 1)
        for pdf in pdfs:
            pdf = pdf.sort_values(
                ["__ts_us", "__tie"], kind="mergesort"
            )
            for ts, et in zip(pdf["__ts_us"], pdf["__etype"]):
                ts = int(ts)
                d = step_idx.get(et)
                if d is None:
                    continue
                # prune expired chains
                for i in range(k - 1):
                    if t0s[i] >= 0 and t0s[i] + window_ms * 1000 < ts:
                        t0s[i], lasts[i] = -1, -1
                # descending depth: one event advances each chain once
                if d > 0:
                    i = d - 1
                    if (
                        t0s[i] >= 0
                        and lasts[i] < ts
                        and ts <= t0s[i] + window_ms * 1000
                    ):
                        best = max(best, d + 1)
                        if d < k - 1 and t0s[i] > t0s[d]:
                            t0s[d], lasts[d] = t0s[i], ts
                if d == 0:
                    best = max(best, 1)
                    t0s[0], lasts[0] = ts, ts  # newest start = max t0
        state.update((best, t0s, lasts))
        yield pd.DataFrame([(key[0], best)], columns=[key_col, "best_depth"])

    prepared = events.select(
        F.col(key_col).cast("long").alias(key_col),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.col(type_col).alias("__etype"),
        F.col(order_col).cast("long").alias("__tie"),
    )
    return prepared.groupBy(F.col(key_col)).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_tdigest_quantile(
    env: DataFrame,
    *,
    q: float = 0.95,
    delta: float = 100.0,
    key_cols: tuple[str, ...] = ("tenant_id", "name"),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Per-key RUNNING quantile over an unbounded stream via t-digest
    state — the sketch family's streaming face (batch twin:
    operators/tdigest.py). State per key is one centroid list (≤ ~δ
    (mean, weight) pairs — bounded regardless of stream length, the
    property that makes a quantile trackable forever where an exact
    multiset cannot be). Each micro-batch folds its values in, holds
    the compressed digest in ``applyInPandasWithState`` array-typed
    state, and emits the key's current quantile estimate + total
    sample count in update mode.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from monasca_aggregator_spark.operators.tdigest import (
        compress,
        quantile as td_quantile,
    )

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = f"{key_schema}, n bigint, quantile double"
    state_schema = "means array<double>, weights array<double>, n bigint"

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            means, weights, n = state.get
            m = np.asarray(means, dtype=float)
            w = np.asarray(weights, dtype=float)
        else:
            m = np.empty(0)
            w = np.empty(0)
            n = 0
        for pdf in pdfs:
            vals = pdf["__value"].dropna().to_numpy(dtype=float)
            if vals.size:
                m = np.concatenate([m, vals])
                w = np.concatenate([w, np.ones(vals.size)])
                n += int(vals.size)
        m, w = compress(m, w, delta)
        # plain-Python floats: numpy scalars don't survive the state
        # serializer's pickler
        state.update(([float(x) for x in m], [float(x) for x in w], int(n)))
        yield pd.DataFrame(
            [(*key, int(n), float(td_quantile(m, w, q)))],
            columns=[*key_cols, "n", "quantile"],
        )

    prepared = env.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.col(value_col).cast("double").alias("__value"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_consistent_k(
    events: DataFrame,
    *,
    k: int = 20,
    key_cols: tuple[str, ...] = ("event_type",),
    id_col: str = "event_id",
    mult: int = 2654435761,
    mod: int = 2147483647,
) -> DataFrame:
    """Streaming consistent (min-wise) exact-k sample per key — the
    streaming face of ``sample_consistent_k`` (plans/pipeline_ops.py,
    same multiplicative-hash priority). Min-wise sampling is a
    MERGEABLE summary: 'keep the k smallest priorities' is
    associative, commutative, and idempotent, so the micro-batch fold
    produces EXACTLY the sample the batch query computes over the
    union of everything ingested — independent of how the stream was
    batched, and replay-safe (a duplicate insert changes nothing).
    tests/test_streaming.py pins streaming ≡ batch equality.

    State per key is ≤ k (priority, id) pairs — O(k), GC-free, stream-
    length-independent. Each micro-batch emits the key's CURRENT
    sample in update mode (k rows per key), so a downstream sink
    always holds a valid consistent sample of the stream so far."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = f"{key_schema}, {id_col} bigint, priority bigint"
    state_schema = "ids array<bigint>, pris array<bigint>"

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            ids, pris = state.get
            pairs = set(zip(pris, ids))
        else:
            pairs = set()
        for pdf in pdfs:
            for i in pdf["__id"]:
                i = int(i)
                pairs.add(((i * mult) % mod, i))
        # ties on priority break by id — same (priority, id) order as
        # the batch query's ORDER BY priority, doc_id
        best = sorted(pairs)[:k]
        state.update(
            ([int(i) for _, i in best], [int(p) for p, _ in best])
        )
        yield pd.DataFrame(
            [(*key, i, p) for p, i in best],
            columns=[*key_cols, id_col, "priority"],
        )

    prepared = events.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.col(id_col).cast("long").alias("__id"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_heavy_hitters(
    tokens_df: DataFrame,
    *,
    capacity: int = 256,
    k: int = 20,
    key_cols: tuple[str, ...] = ("stream",),
    token_col: str = "token",
) -> DataFrame:
    """Streaming Space-Saving heavy hitters per key — the streaming
    face of operators/heavyhitters.heavy_hitters: ≤ ``capacity``
    (token, count, err) counters per key live in the state store
    FOREVER (stream-length-independent), each micro-batch folds its
    tokens through the same eviction rule the batch operator uses,
    and the key's current top-``k`` (with upper/lower count bounds)
    is emitted in update mode.

    Guarantees carried over from the sketch: count_hi ≥ true ≥
    count_lo, and any token whose true frequency exceeds N/capacity
    is guaranteed present — pinned in tests/test_streaming.py against
    exact counts over a replayed stream."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, token string, count_hi bigint, count_lo bigint"
    )
    state_schema = (
        "toks array<string>, cnts array<bigint>, errs array<bigint>"
    )

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            toks, cnts, errs = state.get
            counters = {
                t: [int(c), int(e)] for t, c, e in zip(toks, cnts, errs)
            }
        else:
            counters = {}
        for pdf in pdfs:
            for t in pdf["__tok"].dropna():
                t = str(t)
                if t in counters:
                    counters[t][0] += 1
                elif len(counters) < capacity:
                    counters[t] = [1, 0]
                else:
                    victim = min(
                        counters, key=lambda s: (counters[s][0], s)
                    )
                    cnt = counters.pop(victim)[0]
                    counters[t] = [cnt + 1, cnt]
        items = sorted(counters.items())
        state.update(
            (
                [t for t, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
            )
        )
        top = sorted(
            counters.items(), key=lambda kv: (-kv[1][0], kv[0])
        )[:k]
        yield pd.DataFrame(
            [(*key, t, c, c - e) for t, (c, e) in top],
            columns=[*key_cols, "token", "count_hi", "count_lo"],
        )

    prepared = tokens_df.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.col(token_col).cast("string").alias("__tok"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_kmv_distinct(
    events: DataFrame,
    *,
    k: int = 1024,
    key_cols: tuple[str, ...] = ("event_type",),
    member_col: str = "user_id",
) -> DataFrame:
    """Per-key RUNNING distinct count over an unbounded stream via KMV
    sketch state — the streaming face of operators/kmv.py (the sketch
    whose set operations HLL cannot provide).

    "Keep the k smallest distinct hashes" is associative, commutative
    and IDEMPOTENT, so the fold's state equals the batch ``kmv_agg``
    sketch over the union of everything ingested, independent of
    micro-batching and replay-safe (tests/test_streaming.py pins
    streaming state ≡ batch sketch, element for element).  Hashing
    stays JVM-side: the prepared projection computes ``kmv_hash``
    (sign-flipped xxhash64) BEFORE the Python fold, so Python only
    merges longs — no Python re-implementation of the hash to drift.

    State per key is ≤ k longs; each micro-batch emits the key's
    current sketch + estimate in update mode, so a downstream join
    can intersect two keys' sketches (kmv_intersect_estimate) at any
    point in the stream's life.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from monasca_aggregator_spark.operators.kmv import kmv_hash

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, n_distinct double, sk array<bigint>"
    )
    state_schema = "sk array<bigint>"

    def _fold(key, pdfs, state: GroupState):
        have = list(state.get[0]) if state.exists else []
        merged = set(have)
        for pdf in pdfs:
            merged.update(int(h) for h in pdf["__h"].dropna())
        sk = sorted(merged)[:k]
        state.update(([int(h) for h in sk],))
        if len(sk) < k:
            est = float(len(sk))
        else:
            theta = (sk[-1] / float(1 << 63) + 1.0) / 2.0
            est = (k - 1) / theta
        yield pd.DataFrame(
            [(*key, est, sk)],
            columns=[*key_cols, "n_distinct", "sk"],
        )

    prepared = events.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        kmv_hash(F.col(member_col)).alias("__h"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_alert_cooldown(
    breaches: DataFrame,
    *,
    cooldown_ms: int = 3 * 3600 * 1000,
    key_cols: tuple[str, ...] = ("event_type",),
    window_col: str = "window_ts_ms",
) -> DataFrame:
    """Streaming incident grouping with a cooldown — the live face of
    plans/series_ext.py `metric_alert_cooldown`: breach windows within
    the cooldown gap collapse into ONE incident (one page), a quiet
    gap > cooldown starts the next.

    Input is the BREACH stream (already-collapsed windows that failed
    their threshold test — the windowed aggregation upstream emits
    them in watermark order).  State per key is four longs (last
    breach, incident counter, current incident start, current count) —
    O(1), stream-length-independent.  Each micro-batch emits the
    CURRENT row of every incident it touched in update mode, so the
    final emission per incident equals the batch query's
    per-incident aggregate exactly (pinned in
    tests/test_streaming_cooldown.py over a two-file replay).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, incident_id bigint, incident_start_ms bigint, "
        "incident_end_ms bigint, n_breach_windows bigint"
    )
    state_schema = (
        "last_ms bigint, inc_id bigint, inc_start bigint, inc_n bigint"
    )

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            last, inc, start, n = state.get
        else:
            last, inc, start, n = None, 0, None, 0
        touched: dict[int, tuple] = {}
        ws: list[int] = []
        for pdf in pdfs:
            ws.extend(int(w) for w in pdf["__w"].dropna())
        for w in sorted(set(ws)):
            if last is not None and w <= last:
                continue  # replayed window — idempotent
            if last is None or w - last > cooldown_ms:
                inc += 1
                start = w
                n = 0
            n += 1
            last = w
            touched[inc] = (start, last, n)
        state.update((last, inc, start, n))
        yield pd.DataFrame(
            [(*key, i, s, e, c) for i, (s, e, c) in touched.items()],
            columns=[
                *key_cols,
                "incident_id",
                "incident_start_ms",
                "incident_end_ms",
                "n_breach_windows",
            ],
        )

    prepared = breaches.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.col(window_col).cast("long").alias("__w"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def curate_document_stream(
    docs_stream: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    dedup_within: str = "1 hour",
    quality_min: float = 0.35,
    text_col: str = "text",
    url_col: str | None = None,
    url_blocklist: tuple = (),
    url_blocked_tlds: tuple = (".xyz",),
    url_dedup: bool = False,
    boilerplate_lines: tuple = (),
) -> DataFrame:
    """Continuous document-ingestion curation: the streaming face of
    curation.curate_corpus's entry gates —

    - URL/domain gate (optional, r8 cont.: ``url_col`` set): the
      blocklist/TLD policy is row-local and rides the stream with no
      state — the per-domain CAP is deliberately absent here (a cap
      is corpus-wide state; enforce it batch-side per snapshot, the
      top-p precedent below);
    - canonical-URL dedup (optional, r8 cont.: ``url_dedup=True``):
      cosmetic URL variants of the same page collapse inside the
      watermark window via the SAME bounded-state
      ``dropDuplicatesWithinWatermark`` machinery as the content
      fingerprint — a re-crawl under a tracking-param variant drops
      BEFORE extraction ever runs on it;
    - HTML main-content extraction (stage 0, r7): raw-HTML rows are
      replaced by their boilerplate-stripped main text and all-chrome
      pages drop — row-local regex/array expressions
      (operators/html.py), so it rides the stream with no state; the
      content fingerprint below then hashes the EXTRACTED text,
      matching the batch pipeline's dedup input;
    - line-level boilerplate removal (optional, r9:
      ``boilerplate_lines``): known repeated lines — computed
      batch-side by ``line_dedup_rewrite`` over a prior snapshot —
      strip row-locally with zero state, so the content fingerprint
      hashes chrome-free text;
    - exact dedup on the normalized-content fingerprint with
      watermark-bounded state (``dropDuplicatesWithinWatermark``: a
      re-crawl of the same page within the window is dropped, state is
      GC'd past it — the only dedup form that survives an unbounded
      feed);
    - quality gate as a row-local column filter (the same
      ``quality_expr`` the batch plans use — streaming-safe because it
      touches one row at a time).

    Top-p needs corpus-wide state and stays batch-side (run it per
    snapshot on the sink output). Near-dedup no longer has to: point
    this stream at ``minhash_dedup_sink`` (r8) and near-dups of
    anything already ingested drop AT INGEST against the persisted
    index. Returns the curated stream — pair with
    idempotent_parquet_sink for exactly-once plain files, or the
    dedup sink for the near-dedup-clean snapshot table.
    """
    from monasca_aggregator_spark.functions.rounding import stable_round
    from monasca_aggregator_spark.operators.dedup import normalize_text
    from monasca_aggregator_spark.operators.html import html_main_content
    from monasca_aggregator_spark.operators.textops import quality_expr

    if url_col is not None:
        from monasca_aggregator_spark.operators.urlfilter import (
            canonical_url,
            url_domain_filter,
        )

        docs_stream = url_domain_filter(
            docs_stream,
            url_col,
            blocklist=url_blocklist,
            blocked_tlds=url_blocked_tlds,
            per_domain_cap=None,  # corpus-wide state: batch-side only
        )
        if url_dedup:
            docs_stream = (
                docs_stream.withColumn(
                    "__canon", canonical_url(F.col(url_col))
                )
                .withWatermark(ts_col, dedup_within)
                .dropDuplicatesWithinWatermark(["__canon"])
                .drop("__canon")
            )
    extracted = html_main_content(
        docs_stream, text_col=text_col
    ).drop("_was_html")
    # line-level boilerplate removal, streaming form (r9): corpus-wide
    # line document-frequency is batch state, so the stream takes a
    # PRECOMPUTED boilerplate-line list (from a batch
    # line_dedup_rewrite analysis over a prior snapshot — the
    # incremental-dedup precedent) and strips matching lines
    # row-locally, zero state. Matching is on the whitespace-trimmed
    # line, same as the batch operator; beyond a few thousand lines,
    # broadcast-join an exploded line relation instead of this
    # literal array.
    if boilerplate_lines:
        bset = F.array(
            *[F.lit(ln.strip()) for ln in boilerplate_lines]
        )
        kept = F.filter(
            F.split(F.col(text_col), "\n"),
            lambda ln: ~F.array_contains(bset, F.trim(ln)),
        )
        extracted = extracted.withColumn(
            text_col, F.array_join(kept, "\n")
        )
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    return (
        extracted.withColumn("__fp", fp)
        .withWatermark(ts_col, dedup_within)
        .dropDuplicatesWithinWatermark(["__fp"])
        .withColumn(
            "quality", stable_round(quality_expr(F.col(text_col)), 4)
        )
        .filter(F.col("quality") >= quality_min)
        .drop("__fp")
    )


def streaming_page_hinkley(
    env: DataFrame,
    *,
    delta: float = 0.005,
    lam: float = 50.0,
    min_samples: int = 30,
    key_cols: tuple[str, ...] = ("tenant_id", "name"),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Streaming PAGE-HINKLEY mean-drift detector (Page 1954; the
    standard CUSUM-family online change detector, e.g. Gama et al.
    2014's drift survey) — the MEAN-shift companion of the
    distribution-level `streaming_psi_drift`: per key it folds the
    running mean and the two one-sided cumulative deviations
    m_t = Σ(xᵢ − x̄ᵢ − δ), and fires when m_t − min(m) (upward) or
    max(m) − m_t (downward) exceeds λ. On a detection the key's
    state RESETS, so the detector re-arms for the next change —
    alarms mark change POINTS, not a latched condition.

    State per key is SIX numbers (n, mean, cum↑, min↑, cum↓, max↓) —
    O(1), GC-free, the streaming_ewma shape. Emits one row per
    detection: (key..., ts_ms, value, direction, ph_stat,
    n_since_reset) in update mode; drift semantics pinned against a
    synthetic mean shift in tests/test_streaming.py."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, ts_ms bigint, value double,"
        " direction string, ph_stat double, n_since_reset bigint"
    )
    state_schema = (
        "n bigint, mean double, cum_up double, min_up double,"
        " cum_dn double, max_dn double"
    )

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            n, mean, cu, mu, cd, md = state.get
        else:
            n, mean, cu, mu, cd, md = 0, 0.0, 0.0, 0.0, 0.0, 0.0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("__ts_ms", kind="mergesort")
            for ts_ms, v in zip(pdf["__ts_ms"], pdf["__value"]):
                v = float(v)
                n += 1
                mean += (v - mean) / n
                cu += v - mean - delta
                cd += v - mean + delta
                mu = min(mu, cu)
                md = max(md, cd)
                ph_up = cu - mu
                ph_dn = md - cd
                if n >= min_samples and (ph_up > lam or ph_dn > lam):
                    rows.append(
                        (
                            *key,
                            int(ts_ms),
                            v,
                            "up" if ph_up > lam else "down",
                            float(max(ph_up, ph_dn)),
                            n,
                        )
                    )
                    n, mean, cu, mu, cd, md = 0, 0.0, 0.0, 0.0, 0.0, 0.0
        state.update((n, mean, cu, mu, cd, md))
        cols = [
            *key_cols,
            "ts_ms",
            "value",
            "direction",
            "ph_stat",
            "n_since_reset",
        ]
        yield pd.DataFrame(rows, columns=cols)

    prepared = env.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        F.col(value_col).cast("double").alias("__value"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_counter_increase(
    env: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("tenant_id", "name"),
    ts_col: str = "timestamp",
    value_col: str = "value",
    window_ms: int = 3_600_000,
) -> DataFrame:
    """Streaming RESET-AWARE counter increase — the live twin of the
    batch `metric_counter_rate` (Prometheus ``increase()``
    semantics): per-key state is ONE number (the previous sample's
    e6 value), each micro-batch folds its event-time-ordered samples
    into positive inter-sample deltas attributed to the LATER
    sample's window (the batch operator's convention), and emits one
    (key, window, increase_e6, n_resets, n_samples) row per window
    touched by the batch — the consumer sums rows per (key, window)
    for the running total (idempotent with an exactly-once sink).

    State per key: a single BIGINT — O(1), GC-free, the
    streaming_ewma state-shape argument; deltas across micro-batch
    boundaries ride the state, so with in-order arrival the summed
    output is BIT-IDENTICAL to the batch operator on the same data
    (pinned in tests/test_streaming.py)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, window_ts_ms bigint, increase_e6 bigint,"
        " n_resets bigint, n_samples bigint"
    )
    state_schema = "last_e6 bigint"

    def _fold(key, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        acc: dict[int, list[int]] = {}
        for pdf in pdfs:
            pdf = pdf.sort_values("__ts_ms", kind="mergesort")
            for ts_ms, e6 in zip(pdf["__ts_ms"], pdf["__e6"]):
                w = (int(ts_ms) // window_ms) * window_ms
                slot = acc.setdefault(w, [0, 0, 0])
                if last is not None:
                    d = int(e6) - last
                    if d > 0:
                        slot[0] += d
                    elif d < 0:
                        slot[1] += 1
                slot[2] += 1
                last = int(e6)
        if last is not None:
            state.update((last,))
        cols = [
            *key_cols,
            "window_ts_ms",
            "increase_e6",
            "n_resets",
            "n_samples",
        ]
        yield pd.DataFrame(
            [(*key, w, a, r, n) for w, (a, r, n) in sorted(acc.items())],
            columns=cols,
        )

    prepared = env.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("__e6"),
    )
    return prepared.groupBy(
        *[F.col(c) for c in key_cols]
    ).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_anomaly_zscore(
    env: DataFrame,
    *,
    alpha: float = 0.1,
    min_samples: int = 10,
    z_threshold: float = 3.0,
    key_cols: tuple[str, ...] = ("tenant_id", "name"),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Streaming anomaly detection: per-key exponentially-weighted
    mean/variance state (the streaming counterpart of the batch
    trailing-baseline ``anomaly_zscore`` plan) with a z-score per
    sample and an ``is_anomaly`` flag once the baseline has seen
    ``min_samples`` points.

    State per key is THREE numbers (ewma, ewvar, n) — O(1), GC-free,
    exactly the state-shape argument from streaming_ewma; the EW
    variance update is the standard West/EWMA recurrence
    ``diff = v − mean; incr = α·diff; mean += incr;
    var = (1−α)·(var + diff·incr)``. Anomalies are scored against the
    baseline BEFORE the sample updates it, so a spike can't mask
    itself. Emits (key..., ts_ms, value, zscore, is_anomaly) in
    update mode.
    """
    import math

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_schema = ", ".join(f"{c} string" for c in key_cols)
    out_schema = (
        f"{key_schema}, ts_ms bigint, value double, zscore double,"
        " is_anomaly boolean"
    )
    state_schema = "ewma double, ewvar double, n bigint"

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            mean, var, n = state.get
        else:
            mean, var, n = None, 0.0, 0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("__ts_ms", kind="mergesort")
            for ts_ms, v in zip(pdf["__ts_ms"], pdf["__value"]):
                v = float(v)
                if mean is None:
                    z, flag = 0.0, False
                    mean = v
                else:
                    sd = math.sqrt(var) if var > 0 else 0.0
                    z = (v - mean) / sd if sd > 0 else 0.0
                    flag = bool(n >= min_samples and abs(z) >= z_threshold)
                    diff = v - mean
                    incr = alpha * diff
                    mean += incr
                    var = (1.0 - alpha) * (var + diff * incr)
                n += 1
                rows.append((*key, int(ts_ms), v, float(z), flag))
        state.update((mean, var, n))
        cols = [*key_cols, "ts_ms", "value", "zscore", "is_anomaly"]
        yield pd.DataFrame(rows, columns=cols)

    prepared = env.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        F.col(value_col).cast("double").alias("__value"),
    )
    return prepared.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_PSI_K = 10  # buckets (deciles) — matches the batch metric_psi


def psi_reference(
    batch: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Build the broadcastable PSI REFERENCE from a batch (reference
    period / snapshot): per key, the 9 decile edges of the e2-fixed
    value distribution (exact discrete order statistics — the batch
    `metric_psi` machinery) and the add-1-smoothed baseline bucket
    shares q. One row per key: (key, edges array<long>,
    q array<double>). Feed to ``streaming_psi_drift``."""
    from pyspark.sql.window import Window as W

    e2 = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    hist = (
        batch.select(F.col(key_col).alias("k"), e2.alias("e2"))
        .groupBy("k", "e2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum_w = (
        W.partitionBy("k")
        .orderBy("e2")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "k",
        "e2",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(W.partitionBy("k")).alias("n"),
    )

    def _need(j: int):
        return (
            (F.lit(j) * F.col("n") + F.lit(_PSI_K - 1)) / F.lit(_PSI_K)
        ).cast("long")

    edges_wide = cum.groupBy("k").agg(
        *[
            F.min(
                F.when(F.col("cum") >= _need(j), F.col("e2"))
            ).alias(f"_e{j}")
            for j in range(1, _PSI_K)
        ]
    )
    edges = edges_wide.select(
        "k", F.array(*[f"_e{j}" for j in range(1, _PSI_K)]).alias("edges")
    )
    bucketed = hist.join(edges, "k").select(
        "k",
        "cnt",
        F.aggregate(
            "edges",
            F.lit(0).cast("long"),
            lambda acc, e: acc + (e < F.col("e2")).cast("long"),
        ).alias("b"),
    )
    per_bucket = bucketed.groupBy("k", "b").agg(
        F.sum("cnt").alias("c")
    )
    wide = per_bucket.groupBy("k").agg(
        F.sum("c").alias("m"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("b") == i, F.col("c"))), F.lit(0)
            ).alias(f"_c{i}")
            for i in range(_PSI_K)
        ],
    )
    q = F.array(
        *[
            (F.col(f"_c{i}") + F.lit(1)).cast("double")
            / (F.col("m") + F.lit(_PSI_K)).cast("double")
            for i in range(_PSI_K)
        ]
    )
    return wide.join(edges, "k").select(
        F.col("k").alias(key_col), "edges", q.alias("q")
    )


def streaming_bot_burst(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    burst: int = 5,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming BOT-BURST screen (r10) — the live twin of the batch
    `events_bot_detection` burst rule: a watermarked 1-minute
    tumbling window per user emits an append-mode alert row the
    moment a closed minute carried ≥ ``burst`` events. The batch
    operator audits history; this one pages while the scripted
    client is still running.

    Entirely built-in streaming machinery — ONE watermarked windowed
    aggregation (state per (user, open-minute) is a single count;
    the watermark expires closed minutes, so state is bounded by
    users-active-per-minute, not by history), a row-local filter,
    and NO Python state. Append mode means every alert row is final:
    safe for an exactly-once alert sink without dedup.

    Alert parity with the batch rule is pinned in
    tests/test_streaming.py (same burst constant as
    plans/assoc.py's _BOT_BURST)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.window(F.col(ts_col), "1 minute"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= burst)
        .select(
            F.col(user_col),
            F.col("window.start").alias("minute_start"),
            "n_events",
            F.lit(True).alias("bot_flag"),
        )
    )


def streaming_psi_drift(
    values: DataFrame,
    reference: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ingest_ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming DISTRIBUTION-DRIFT monitor (r9): per (key, window),
    the Population Stability Index of the live value distribution
    against a batch-computed reference (``psi_reference`` — the
    model-risk drift score ML-ops teams alert on; <0.1 stable, >0.25
    major shift), entirely in built-in streaming machinery:

    - the reference (edges + baseline shares) joins the stream
      row-locally (stream-static join BEFORE aggregation, the
      enrichment-join pattern) and the bucket index is a row-local
      fold over the 9 broadcast edges;
    - ONE watermarked windowed aggregation computes the {_PSI_K}
      bucket counts as conditional sums (a fixed-width pivot — never
      a second aggregation, which append-mode streaming forbids);
    - PSI is then row-local closed-form algebra over the aggregated
      row: add-1-smoothed live shares p against the carried baseline
      q, Σ (p−q)·ln(p/q).

    State per (key, window) is {_PSI_K} counters — bounded, GC'd by
    the watermark. Emits (key, window_start, window_end, n, psi,
    drifted) in append mode; streaming ≡ batch equality on identical
    data is pinned in tests/test_streaming.py."""
    e2 = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    enriched = (
        values.withColumn("__e2", e2)
        .join(F.broadcast(reference), key_col)
        .withColumn(
            "__b",
            F.aggregate(
                "edges",
                F.lit(0).cast("long"),
                lambda acc, e: acc + (e < F.col("__e2")).cast("long"),
            ),
        )
    )
    agg = (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("q").alias("q"),
            *[
                F.sum((F.col("__b") == i).cast("long")).alias(f"_c{i}")
                for i in range(_PSI_K)
            ],
        )
    )
    terms = []
    for i in range(_PSI_K):
        p = (F.col(f"_c{i}") + F.lit(1)).cast("double") / (
            F.col("n") + F.lit(_PSI_K)
        ).cast("double")
        qi = F.element_at("q", i + 1)
        terms.append((p - qi) * F.log(p / qi))
    psi = sum(terms[1:], terms[0])
    return agg.select(
        F.col(key_col),
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
        F.round(psi, 6).alias("psi"),
        (psi > F.lit(0.25)).alias("drifted"),
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: tuple[str, ...] = ("user_id",),
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (attribution shape: every right-side
    event matched to the left-side events it followed within
    ``within``). Both sides get a watermark and the join carries the
    time-range predicate, so Spark can bound each side's state to the
    interval + watermark slack and GC matched rows — without the range
    condition a stream-stream join would buffer both streams forever.

    ``how="left_outer"`` additionally emits every UNMATCHED left row
    with a NULL-padded right side — but only once the watermark has
    passed the row's match interval (Spark can't know "no purchase
    followed this click" until no on-time purchase can still arrive),
    so outer results trail the inner ones by the watermark delay. The
    funnel's "clicks that never converted" leg as one streaming join
    instead of a separate batch anti-join. ``how="full_outer"`` adds
    the right side's leg too (purchases with no attributable click),
    each side evicted+emitted at its own watermark point — both
    anti-joins in the one operator (pinned in test_streaming.py).

    ``left_ts``/``right_ts`` must be distinct column names (rename
    upstream); output carries both plus each side's columns.

    Gotcha pinned by the tests: the initial watermark is epoch 0, and
    the state-store admission filter classes a row AT the watermark as
    late — so an event timestamped exactly 1970-01-01T00:00:00 is
    silently dropped. Irrelevant for real event times; surprising in
    synthetic fixtures.
    """
    from functools import reduce
    from operator import and_

    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = reduce(
        and_, [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    )
    cond = (
        cond
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, how)


def idempotent_parquet_sink(base_path: str):
    """Exactly-once file output for foreachBatch: each micro-batch
    OVERWRITES its own ``batch_id=N`` directory, so a batch replayed
    after a failure (same epoch re-delivered from the checkpoint's
    offset log) rewrites identical files instead of appending
    duplicates — at-least-once delivery + idempotent write = effective
    exactly-once. The reference gets the same guarantee by committing
    offsets only after publishing a window (server.go:222-258); here
    the checkpoint plays the offset log and the batch-keyed overwrite
    plays the dedup.

    The directory is hive-partitioned by batch_id, so readers prune on
    it and a janitor can GC replaced batches atomically."""

    def _sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            f"{base_path}/batch_id={batch_id}"
        )

    return _sink


def streaming_cdc_latest(events: DataFrame) -> DataFrame:
    """Streaming CDC apply — the stateful twin of the batch
    `cdc_apply_latest` plan (plans/advanced.py): the event stream is a
    changelog (signup→I, error→D, else U) keyed by user; state per key
    is the latest (ts, event_id)-ordered entry plus a change counter
    (O(1), GC-free), and every micro-batch emits each touched key's
    CURRENT materialized row in update mode — deletes emit a tombstone
    row (last_op 'D') so a downstream sink can drop the key. Late rows
    are handled by the total (ts, event_id) order, not arrival order:
    a stale update arriving after a newer one only bumps the change
    counter, exactly as the batch row_number semantics dictate, so
    stream and batch agree on any replay/chunking of the same log.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, last_value double, last_op string,"
        " n_changes bigint"
    )
    state_schema = (
        "last_us bigint, last_eid bigint, last_value double,"
        " last_op string, n_changes bigint"
    )

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            last_us, last_eid, last_value, last_op, n = state.get
        else:
            last_us, last_eid, last_value, last_op, n = (
                None, None, None, None, 0,
            )
        for pdf in pdfs:
            pdf = pdf.sort_values(
                ["__us", "__eid"], kind="mergesort"
            )
            for us, eid, v, op in zip(
                pdf["__us"], pdf["__eid"], pdf["__value"], pdf["__op"]
            ):
                n += 1
                if last_us is None or (int(us), int(eid)) > (
                    last_us, last_eid,
                ):
                    last_us, last_eid = int(us), int(eid)
                    last_value, last_op = float(v), str(op)
        state.update((last_us, last_eid, last_value, last_op, n))
        yield pd.DataFrame(
            [(key[0], last_value, last_op, n)],
            columns=["user_id", "last_value", "last_op", "n_changes"],
        )

    op = (
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
    )
    prepared = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts")).alias("__us"),
        F.col("event_id").cast("long").alias("__eid"),
        F.col("value").cast("double").alias("__value"),
        op.alias("__op"),
    )
    return prepared.groupBy(F.col("user_id")).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessions_capped(
    events: DataFrame,
    *,
    gap_ms: int = 12 * 3600 * 1000,
    cap_ms: int = 24 * 3600 * 1000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    close_on_idle_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of plans/temporal.q_sessions_capped: gap-based
    sessions ALSO split at a max-duration ceiling, finalized live.

    Split semantics match the batch query exactly — fixed-offset
    sub-sessions at ``start + k·cap`` anchored to the GAP-session's
    first event (the closed-form variant; the batch docstring explains
    why re-anchoring is inherently sequential).  State per key is five
    longs (gap-session start, last event, current sub index, current
    sub's first/last+count) — O(1), stream-length-independent.

    A sub-session is emitted when it CLOSES: the next event either
    opens a new gap-session (gap exceeded) or crosses the next cap
    boundary.  The trailing sub-session of a key stays open until more
    data arrives — unless ``close_on_idle_ms`` is set, in which case a
    PROCESSING-TIME state timeout (GroupStateTimeout) finalizes and
    clears an idle key's trailing sub-session after that much wall
    clock with no input: the reference's wall-clock-publication
    behavior for quiet streams, expressed as the state store's own
    timeout machinery instead of a heartbeat union (timeouts fire when
    a later micro-batch processes, so an entirely-idle stream still
    needs any trigger activity — the documented Spark semantics).
    Same in-order
    caveat as the other stateful ops: state carries in micro-batch
    arrival order, rows are sorted within each batch.

    Output per closed sub-session: key, session_start_ms (first event
    of the SUB-session), session_end_ms (last event), n_events,
    from_cap_split (true when the sub-session exists only because of
    the ceiling).  tests/test_streaming.py pins closed sessions ≡ the
    batch query's sub-sessions minus each key's trailing open one.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} bigint, session_start_ms bigint, "
        "session_end_ms bigint, n_events bigint, from_cap_split boolean"
    )
    state_schema = (
        "sess_start bigint, last_ms bigint, sub_idx bigint, "
        "sub_start bigint, sub_n bigint"
    )

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            sess_start, last, sub_idx, sub_start, sub_n = state.get
        else:
            sess_start = last = sub_start = None
            sub_idx, sub_n = 0, 0
        closed: list[tuple] = []
        if close_on_idle_ms is not None and state.hasTimedOut:
            # idle beyond the threshold: the trailing sub-session IS
            # the final word for this key — emit and drop the state
            if sub_start is not None:
                closed.append((key[0], sub_start, last, sub_n, sub_idx > 0))
            state.remove()
            yield pd.DataFrame(
                closed,
                columns=[
                    key_col,
                    "session_start_ms",
                    "session_end_ms",
                    "n_events",
                    "from_cap_split",
                ],
            )
            return
        for pdf in pdfs:
            pdf = pdf.sort_values(["__ts_ms", "__tie"], kind="mergesort")
            for ts in pdf["__ts_ms"]:
                ts = int(ts)
                if sess_start is None:
                    sess_start, last = ts, ts
                    sub_idx, sub_start, sub_n = 0, ts, 1
                    continue
                if ts - last > gap_ms:
                    closed.append(
                        (key[0], sub_start, last, sub_n, sub_idx > 0)
                    )
                    sess_start, last = ts, ts
                    sub_idx, sub_start, sub_n = 0, ts, 1
                    continue
                new_sub = (ts - sess_start) // cap_ms
                if new_sub != sub_idx:
                    closed.append(
                        (key[0], sub_start, last, sub_n, sub_idx > 0)
                    )
                    sub_idx, sub_start, sub_n = new_sub, ts, 1
                else:
                    sub_n += 1
                last = ts
        state.update((sess_start, last, sub_idx, sub_start, sub_n))
        if close_on_idle_ms is not None:
            state.setTimeoutDuration(close_on_idle_ms)
        yield pd.DataFrame(
            closed,
            columns=[
                key_col,
                "session_start_ms",
                "session_end_ms",
                "n_events",
                "from_cap_split",
            ],
        )

    prepared = events.select(
        F.col(key_col).cast("long").alias(key_col),
        F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        F.col(order_col).cast("long").alias("__tie"),
    )
    return prepared.groupBy(F.col(key_col)).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if close_on_idle_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def minhash_dedup_sink(
    index_path: str,
    docs_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 256,
):
    """``foreachBatch`` sink performing LIVE cross-snapshot NEAR-dedup
    (r8) — the capability `minhash_index_sink` only indexes toward:
    each micro-batch's docs are probed against the PERSISTED MinHash
    index (banded candidates → exact-Jaccard verification against the
    stored docs, `minhash_lsh_pairs_incremental`), near-dups of
    anything already ingested DROP, the batch's own internal near-dup
    pairs collapse to their lowest-id survivor, and only the survivors
    append — docs to one snapshot table, their thin (doc, band,
    bucket) rows to the index table — so the corpus a training run
    reads is near-dedup-CLEAN at every version boundary, not only
    after a batch re-dedup pass.

    Exactly-once: both appends are batch_id-stamped commits (replays
    and multi-batch rewinds skip). Cost per batch: O(batch × bands)
    probe rows against the thin index + the batch-local self-join —
    the corpus is never rescanned, and ``max_bucket_size`` caps the
    fan-out through any degenerate (boilerplate) bucket on BOTH the
    index probe and the self-join (measured r8: without the cap a
    nearly-all-duplicate corpus collapsed ingest to 305 docs/s with
    growing batch times; with distinct content the path runs
    1,140 docs/s dead flat — tools/stream_dedup_throughput.py).
    """
    from monasca_aggregator_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from monasca_aggregator_spark.sources.table_log import (
        batch_committed,
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    kw = dict(
        id_col=id_col,
        text_col=text_col,
        n=n,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )

    def _sink(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty() or batch_committed(index_path, batch_id):
            return
        spark = df.sparkSession
        survivors = df
        if snapshot_versions(index_path):
            hits = minhash_lsh_pairs_incremental(
                df,
                snapshot_read(spark, index_path),
                snapshot_read(spark, docs_path),
                max_bucket_size=max_bucket_size,
                **kw,
            ).select(F.col("id_new").alias(id_col)).distinct()
            survivors = survivors.join(hits, id_col, "left_anti")
        # batch-internal near-dups: keep each pair's lowest id
        # (pairs emit id_a < id_b, so dropping every id_b leaves the
        # canonical survivor)
        self_dups = (
            minhash_lsh_pairs(
                survivors, max_bucket_size=max_bucket_size, **kw
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(self_dups, id_col, "left_anti")
        # two commits, each individually replay-safe (a crash between
        # them re-runs the batch; the committed side skips)
        snapshot_write(
            minhash_index(
                survivors,
                id_col=id_col,
                text_col=text_col,
                n=n,
                num_hashes=num_hashes,
                bands=bands,
            ),
            index_path,
            mode="append",
            extra_record={"batch_id": batch_id},
        )
        if not batch_committed(docs_path, batch_id):
            snapshot_write(
                survivors,
                docs_path,
                mode="append",
                extra_record={"batch_id": batch_id},
            )

    return _sink


def ivf_index_sink(
    index_path: str,
    centroids_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` sink keeping a PERSISTED IVF ANN index live as
    embeddings stream in — the ANN sibling of ``minhash_index_sink``
    (r8): without it the thin (id, cell) map is batch-rebuilt per
    snapshot and vectors ingested between rebuilds are unsearchable.

    Per micro-batch: the (tiny, pre-trained) centroid table loads from
    ``centroids_path``, the batch's vectors take one argmax-cosine
    assignment pass (``operators/similarity.assign_cells`` — map-only,
    centroid literals inlined), and the THIN (id, cell) rows APPEND to
    a log-structured snapshot table — inheriting time travel ("the
    index as of version N"), the commit-log audit trail, and the
    batch_id-in-commit replay guard (multi-batch rewinds skip).

    Probe parity is the contract (pinned in test_streaming_ivf.py):
    ``ivf_ann(corpus, queries, centroids=..., cell_map=
    snapshot_read(index))`` returns exactly what a fresh batch build
    over the same corpus returns. Centroids stay FROZEN by design —
    an IVF index's cells must not drift under its stored assignments;
    retraining is a rebuild, not an append (the FAISS contract).

    Scale: per batch the work is one map-only pass over batch vectors
    + one thin append commit — no corpus rescan, no shuffle."""
    from monasca_aggregator_spark.operators.similarity import assign_cells
    from monasca_aggregator_spark.sources.table_log import (
        batch_committed,
        snapshot_write,
    )

    def _sink(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty() or batch_committed(index_path, batch_id):
            return
        cents = df.sparkSession.read.parquet(centroids_path)
        thin = assign_cells(
            df, cents, id_col=id_col, vec_col=vec_col
        ).select(id_col, "cell")
        snapshot_write(
            thin,
            index_path,
            mode="append",
            extra_record={"batch_id": batch_id},
        )

    return _sink


def minhash_index_sink(
    index_path: str,
    *,
    docs_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
):
    """``foreachBatch`` sink that keeps the INCREMENTAL MinHash index
    (the THIN (doc_id, band, bucket) relation of
    ``operators/dedup.minhash_index``) LIVE as documents stream in —
    the r6-verdict stretch closing the loop between streaming
    ingestion curation (``curate_document_stream``) and cross-snapshot
    near-dedup: without it the index is batch-rebuilt per snapshot, and
    a drop arriving between rebuilds probes a stale index.

    Each micro-batch's docs are signature-banded with the SAME
    parameters the batch index uses and APPENDED to a log-structured
    snapshot table (sources/table_log.py) as one commit — so the index
    inherits time travel (probe "the index as of version N"), the
    commit log as audit trail, and exactly-once replay semantics: the
    micro-batch id rides IN the atomically-published commit record and
    a replayed batch is skipped, never double-indexed (the
    ``snapshot_sink`` contract). With ``docs_path`` set, the curated
    docs themselves commit to a second snapshot table in the same
    batch for candidate verification (two tables, two commits — each
    individually atomic + replay-safe; a crash between them re-runs
    the batch and the already-committed side skips).

    Probe parity is the contract (pinned in test_streaming_minhash.py):
    ``minhash_lsh_pairs_incremental(new_drop, snapshot_read(index),
    snapshot_read(docs))`` returns exactly the pairs the batch-built
    index returns over the same corpus.

    Scale: per batch the work is O(batch_docs × bands) projection +
    one append commit — no corpus rescan, no shuffle beyond the
    signature projection; the index table only ever grows by thin
    rows, and compaction/retention ride the snapshot table's own
    tooling.
    """
    from monasca_aggregator_spark.operators.dedup import minhash_index
    from monasca_aggregator_spark.sources.table_log import (
        batch_committed,
        snapshot_write,
    )

    def _sink(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        if not batch_committed(index_path, batch_id):
            idx = minhash_index(
                df,
                id_col=id_col,
                text_col=text_col,
                n=n,
                num_hashes=num_hashes,
                bands=bands,
            )
            snapshot_write(
                idx,
                index_path,
                mode="append",
                extra_record={"batch_id": batch_id},
            )
        if docs_path is not None and not batch_committed(
            docs_path, batch_id
        ):
            snapshot_write(
                df,
                docs_path,
                mode="append",
                extra_record={"batch_id": batch_id},
            )

    return _sink


def streaming_staleness(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    stale_after_ms: int = 5 * 60 * 1000,
    watermark: str = "1 minute",
) -> DataFrame:
    """Live per-metric STALENESS monitor (r11) — the streaming twin of
    the batch `metric_staleness` row (18q, the operational complement
    of the reference's stale-window GC, server.go:213-296): per key,
    state is TWO numbers (last event-time ms, sample count); every
    micro-batch with data emits the key's freshness against the
    event-time watermark frontier, and — the part the batch query
    cannot do — a key that goes SILENT still reports: an
    EVENT-TIME state timeout registered at last_ts + stale_after
    fires with no input for the key and emits a ``via_timeout`` stale
    row, then re-arms against the advancing watermark so a
    still-silent series keeps paging once per micro-batch.

    This is the family's first EventTimeTimeout consumer (the capped
    sessionizer uses processing-time idle close): staleness is an
    EVENT-TIME property — a quiet stream with a stalled watermark is
    "no data yet", not "stale", and the watermark-anchored timeout
    encodes exactly that distinction. State is O(keys), GC-free.

    Emits (key, n_samples, last_ts_ms, watermark_ms, staleness_ms,
    is_stale, via_timeout) in update mode. Batch parity of the
    data-path staleness arithmetic is pinned against
    `q_metric_staleness` in tests/test_streaming.py.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} string, n_samples bigint, last_ts_ms bigint,"
        " watermark_ms bigint, staleness_ms bigint, is_stale boolean,"
        " via_timeout boolean"
    )
    state_schema = "last_ts bigint, n bigint"

    def _fold(key, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            last, n = state.get
            staleness = max(0, wm - last)
            # re-arm against the advancing watermark: the next
            # micro-batch's watermark must exceed this to page again
            state.setTimeoutTimestamp(wm + 1)
            yield pd.DataFrame(
                [(key[0], n, last, wm, staleness, True, True)],
                columns=[
                    key_col,
                    "n_samples",
                    "last_ts_ms",
                    "watermark_ms",
                    "staleness_ms",
                    "is_stale",
                    "via_timeout",
                ],
            )
            return
        if state.exists:
            last, n = state.get
        else:
            last, n = 0, 0
        for pdf in pdfs:
            if len(pdf):
                last = max(last, int(pdf["__ts_ms"].max()))
                n += len(pdf)
        state.update((last, n))
        # page when the watermark passes last + stale_after (event-time
        # timeouts must be registered strictly beyond the watermark)
        state.setTimeoutTimestamp(max(last + stale_after_ms, wm + 1))
        staleness = max(0, wm - last)
        yield pd.DataFrame(
            [
                (
                    key[0],
                    n,
                    last,
                    wm,
                    staleness,
                    bool(staleness >= stale_after_ms),
                    False,
                )
            ],
            columns=[
                key_col,
                "n_samples",
                "last_ts_ms",
                "watermark_ms",
                "staleness_ms",
                "is_stale",
                "via_timeout",
            ],
        )

    prepared = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.unix_millis(F.col(ts_col)).alias("__ts_ms"),
        )
    )
    return prepared.groupBy(F.col(key_col)).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
