"""Streaming throughput benchmark: the FULL continuous path — Python
DataSource envelope generation → JSON envelope parse → watermark →
windowed spec aggregation → noop sink — measured end to end on
local[32]. Prints one JSON line {envelopes, wall_s, busy_s, env_per_s}.

This is the number SURVEY §6 quotes against the reference's >50K/s
single-node claim; a reproducible script so each round re-measures
instead of trusting last round's ad-hoc run.

Usage: python tools/stream_throughput.py [rows_per_batch] [n_batches]

``rows_per_batch`` is PER PARTITION and the source runs one partition
per core (32 on this box), so total envelopes =
rows_per_batch × 32 × n_batches — the default ``640000 20`` generates
409.6M envelopes, not 12.8M (VERDICT r7 nit #3). The printed
``envelopes`` field is the true generated total.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    rows_per_batch = int(sys.argv[1]) if len(sys.argv) > 1 else 640_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    from pyspark.sql import functions as F

    from monasca_aggregator_spark.operators.aggregate import (
        build_aggregation,
    )
    from monasca_aggregator_spark.session import get_spark
    from monasca_aggregator_spark.sources.envelope import parse_envelopes
    from monasca_aggregator_spark.sources.loadgen_source import (
        EnvelopeLoadgenDataSource,
    )
    from monasca_aggregator_spark.specs import AggregationSpec

    spark = get_spark("stream-throughput")
    spark.dataSource.register(EnvelopeLoadgenDataSource)

    raw = (
        spark.readStream.format("metric_envelopes")
        .option("partitions", "32")
        .option("rows_per_batch", str(rows_per_batch))
        .load()
    )
    flat = parse_envelopes(raw.select(F.col("value")))
    spec = AggregationSpec(
        name="bench",
        aggregated_metric_name="bench.avg",
        filtered_metric_name="cpu.idle",
        function="avg",
        grouped_dimensions=("host",),
    )
    agg = build_aggregation(flat, spec, 60, lag_sec=120)

    t0 = time.time()
    busy = 0.0
    done = 0
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        while done < n_batches:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) > 0:
                pass
            time.sleep(0.2)
            rp = q.recentProgress
            done = sum(1 for r in rp if r["numInputRows"] > 0)
        wall = time.time() - t0
        rp = q.recentProgress
        n_rows = sum(r["numInputRows"] for r in rp)
        busy = sum(
            r["durationMs"]["triggerExecution"] for r in rp if r["numInputRows"]
        ) / 1000.0
    finally:
        q.stop()
        q.awaitTermination()
    out = {
        "envelopes": n_rows,
        "wall_s": round(wall, 1),
        "busy_s": round(busy, 1),
        "env_per_s_wall": int(n_rows / wall),
        "env_per_s_busy": int(n_rows / busy) if busy else None,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
