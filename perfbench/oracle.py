"""Independent oracle: DuckDB recomputes every rule's windowed
aggregates from the generated events, and ``compare`` checks the
engine's published results against them per (rule, window).

The SQL here is written from the reference's rule semantics
(docs/aggregations.md), not from the engine's plan builders, so a
defect shared by the engine's batch and streaming paths still shows.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pyarrow as pa

DIM_KEYS = ("hostname", "service", "component")
REL_TOL = 1e-9


def _agg_sql(function: str, v: str = "value", t: str = "ts_ms") -> str:
    first_last = f"(arg_max({v}, {t}) - arg_min({v}, {t}))"
    return {
        "sum": f"sum({v})",
        "count": "count(*)::DOUBLE",
        "avg": f"avg({v})",
        "min": f"min({v})",
        "max": f"max({v})",
        "delta": first_last,
        "rate": f"{first_last} / nullif((max({t}) - min({t})) / 1000.0, 0)",
    }[function]


def _where(rule: dict) -> str:
    conds = [f"name = '{rule['filteredMetricName']}'", "NOT late"]
    for k, v in (rule.get("filteredDimensions") or {}).items():
        conds.append(f"{k} = '{v}'")
    for k, v in (rule.get("rejectedDimensions") or {}).items():
        conds.append(f"{k} IS NULL" if v == "" else f"({k} IS NULL OR {k} <> '{v}')")
    for k in rule.get("groupedDimensions") or ():
        conds.append(f"{k} IS NOT NULL")
    return " AND ".join(conds)


class Oracle:
    """Expected results keyed (rule name, window start ms) →
    {(tenant, dims): value}; dims is a sorted tuple of (key, value)."""

    def __init__(self, events: list[dict], rules: list[dict], window_ms: int):
        cols = ("name", "tenant", *DIM_KEYS, "ts_ms", "value", "late")
        table = pa.table({c: [e[c] for e in events] for c in cols})
        con = duckdb.connect()
        try:
            con.register("ev", table)
            self.results = {}
            self.metric_to_rule = {}
            for rule in rules:
                self.metric_to_rule[rule["aggregatedMetricName"]] = rule["name"]
                self._run(con, rule, window_ms)
        finally:
            con.close()

    def _run(self, con, rule: dict, window_ms: int) -> None:
        grouped = list(rule.get("groupedDimensions") or ())
        keys = ", ".join(["w", "tenant", *grouped])
        sql = (
            f"SELECT (ts_ms // {window_ms}) * {window_ms} AS w, tenant"
            + "".join(f", {k}" for k in grouped)
            + f", {_agg_sql(rule['function'])} AS v FROM ev"
            + f" WHERE {_where(rule)} GROUP BY {keys}"
        )
        out_keys = grouped
        rollup = rule.get("rollup")
        if rollup:
            out_keys = list(rollup.get("groupedDimensions") or ())
            sql = (
                "SELECT w, tenant" + "".join(f", {k}" for k in out_keys)
                + f", {_agg_sql(rollup['function'], 'v', 'w')} AS v"
                + f" FROM ({sql}) GROUP BY "
                + ", ".join(["w", "tenant", *out_keys])
            )
        fixed = dict(rule.get("filteredDimensions") or {})
        for row in con.execute(sql).fetchall():
            w, tenant, *dim_vals, v = row
            dims = {**fixed, **dict(zip(out_keys, dim_vals))}
            self.results.setdefault((rule["name"], w), {})[
                (tenant, tuple(sorted(dims.items())))
            ] = v

    def windows(self) -> set[int]:
        return {w for _, w in self.results}


def _close(a, b, rel: bool) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if not rel:
        return a == b
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)


def compare(
    oracle: Oracle,
    rules: list[dict],
    actual: list[tuple],
    must_have: set[int],
    *,
    tenantless: bool = False,
) -> dict:
    """Check published rows ``(rule, window, tenant, dims, value)``.

    Every (rule, window) the oracle has with window in ``must_have``
    is expected; it fails if missing, if any group is absent, extra
    or wrong, or if any group is published twice. A published
    (rule, window) outside ``must_have`` is checked too and counted
    (attempted and failed) only if it is wrong. ``tenantless``
    compares per dims the sorted values across tenants, for outputs
    that drop the tenant column.
    """
    fn_of = {r["name"]: r.get("rollup", {}).get("function") or r["function"] for r in rules}
    by_pair: dict[tuple, list] = defaultdict(list)
    for rule, w, tenant, dims, v in actual:
        by_pair[(rule, w)].append(((None if tenantless else tenant), dims, v))
    expected = {p for p in oracle.results if p[1] in must_have}
    failures: Counter = Counter()
    examples = []
    attempted = len(expected)
    for pair in sorted(set(expected) | set(by_pair), key=str):
        want = oracle.results.get(pair, {})
        got = by_pair.get(pair, [])
        rel = fn_of[pair[0]] in ("avg", "rate")
        status = _check(want, got, rel, tenantless)
        if status != "ok" and len(examples) < 3:
            examples.append([*pair, status])
        if pair not in expected:
            if status != "ok":
                attempted += 1
                failures[status] += 1
            continue
        if status != "ok":
            failures[status] += 1
    return {
        "attempted": attempted,
        "failed": sum(failures.values()),
        "by_kind": dict(failures),
        "examples": examples,
    }


def _check(want: dict, got: list, rel: bool, tenantless: bool) -> str:
    if not got:
        return "missing"
    if tenantless:
        w_vals = defaultdict(list)
        for (_, dims), v in want.items():
            w_vals[dims].append(v)
        g_vals = defaultdict(list)
        for _, dims, v in got:
            g_vals[dims].append(v)
        if set(w_vals) != set(g_vals):
            return "wrong"
        for dims, wl in w_vals.items():
            gl = g_vals[dims]
            if len(gl) > len(wl):
                return "duplicate"
            if len(gl) != len(wl):
                return "wrong"
            key = lambda x: (x is None, x if x is not None else 0.0)  # noqa: E731
            if not all(_close(a, b, rel) for a, b in zip(sorted(wl, key=key), sorted(gl, key=key))):
                return "wrong"
        return "ok"
    seen = Counter((t, d) for t, d, _ in got)
    if any(n > 1 for n in seen.values()):
        return "duplicate"
    if set(seen) != set(want):
        return "wrong"
    for t, d, v in got:
        if not _close(want[(t, d)], v, rel):
            return "wrong"
    return "ok"
