"""The benchmark's rule set, in the reference's
aggregation-specifications format.

Eight streaming rules cover all seven reference functions (sum, count,
avg, min, max, delta, rate), filteredDimensions, rejectedDimensions
(both an exact k=v reject and the ``""`` reject-any-value case) and
one- and two-key groupedDimensions. The backfill workload adds a
rollup rule: ``build_continuous_pipeline`` hands every spec to
``build_streaming_aggregation``, which raises ValueError on a rollup,
so the streaming workloads cannot carry one.
"""

from __future__ import annotations

STREAMING_RULES = [
    {
        "name": "cpu_avg_by_service",
        "aggregatedMetricName": "cpu.idle_perc.avg",
        "filteredMetricName": "cpu.idle_perc",
        "function": "avg",
        "groupedDimensions": ["service"],
    },
    {
        "name": "mem_min_by_host",
        "aggregatedMetricName": "mem.free_mb.min",
        "filteredMetricName": "mem.free_mb",
        "function": "min",
        "groupedDimensions": ["hostname"],
    },
    {
        "name": "disk_max_svc03",
        "aggregatedMetricName": "disk.used_pct.max",
        "filteredMetricName": "disk.used_pct",
        "function": "max",
        "filteredDimensions": {"service": "svc-03"},
    },
    {
        "name": "net_sum_no_component",
        "aggregatedMetricName": "net.in_bytes.sum",
        "filteredMetricName": "net.in_bytes",
        "function": "sum",
        "rejectedDimensions": {"component": ""},
        "groupedDimensions": ["service"],
    },
    {
        "name": "http_count",
        "aggregatedMetricName": "http_status.count",
        "filteredMetricName": "http_status",
        "function": "count",
        "rejectedDimensions": {"service": "svc-00"},
    },
    {
        "name": "errors_delta_by_host_service",
        "aggregatedMetricName": "log.errors.delta",
        "filteredMetricName": "log.errors",
        "function": "delta",
        "groupedDimensions": ["hostname", "service"],
    },
    {
        "name": "net_rate_by_service_component",
        "aggregatedMetricName": "net.in_bytes.rate",
        "filteredMetricName": "net.in_bytes",
        "function": "rate",
        "groupedDimensions": ["service", "component"],
    },
    {
        "name": "cpu_count_svc01_by_host",
        "aggregatedMetricName": "cpu.idle_perc.count",
        "filteredMetricName": "cpu.idle_perc",
        "function": "count",
        "filteredDimensions": {"service": "svc-01"},
        "groupedDimensions": ["hostname"],
    },
]

ROLLUP_RULE = {
    "name": "mem_sum_rollup_max_by_service",
    "aggregatedMetricName": "mem.free_mb.sum_max",
    "filteredMetricName": "mem.free_mb",
    "function": "sum",
    "groupedDimensions": ["service", "hostname"],
    "rollup": {"function": "max", "groupedDimensions": ["service"]},
}

BACKFILL_RULES = STREAMING_RULES + [ROLLUP_RULE]
