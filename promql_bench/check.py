"""Independent answers for every request the benchmark sends.

The expected result of each query is computed here from the generator's
model with numpy, following Prometheus semantics (5 m lookback for
instant selectors, `extrapolatedRate` for `rate`, `bucketQuantile` for
`histogram_quantile`). Nothing here calls the engine, so an engine bug
cannot hide behind the check.
"""

from __future__ import annotations

import math

import numpy as np

from gen import N_SAMPLES, SCRAPE_MS, T0_MS, Model

LOOKBACK_MS = 300_000
REL_TOL = 1e-6
ABS_TOL = 1e-9


def _key(labels: dict) -> tuple:
    return tuple(sorted(labels.items()))


def _no_name(labels: dict) -> dict:
    return {k: v for k, v in labels.items() if k != "__name__"}


def _k_at(s, t: np.ndarray) -> np.ndarray:
    """Index of the last scrape at or before each instant (-1 if none)."""
    return np.minimum((t - T0_MS - s.off_ms) // SCRAPE_MS, N_SAMPLES - 1)


def _selector(model: Model, spec: dict, steps: np.ndarray) -> dict:
    out = {}
    for s in model.select(spec["metric"], spec["match"]):
        k = _k_at(s, steps)
        ok = (k >= 0) & (steps - s.ts(np.maximum(k, 0)) < LOOKBACK_MS)
        out[_key(s.labels)] = (dict(s.labels),
                               np.where(ok, s.values(np.maximum(k, 0)),
                                        np.nan))
    return out


def _rate(s, t: np.ndarray, range_ms: int, k_lo: np.ndarray,
          k_hi: np.ndarray) -> np.ndarray:
    """Prometheus extrapolatedRate (promql/functions.go) for windows of
    a reset-free counter, one per step."""
    n = k_hi - k_lo + 1
    lo, hi = np.maximum(k_lo, 0), np.maximum(k_hi, 1)
    t_f, t_l = s.ts(lo), s.ts(hi)
    v_f, v_l = s.values(lo), s.values(hi)
    delta = v_l - v_f
    with np.errstate(divide="ignore", invalid="ignore"):
        sampled = (t_l - t_f) / 1000.0
        avg_gap = sampled / (n - 1)
        to_start = (t_f - (t - range_ms)) / 1000.0
        to_end = (t - t_l) / 1000.0
        to_zero = sampled * (v_f / delta)
        to_start = np.where((delta > 0) & (v_f >= 0),
                            np.minimum(to_start, to_zero), to_start)
        threshold = avg_gap * 1.1
        span = (sampled
                + np.where(to_start < threshold, to_start, avg_gap / 2)
                + np.where(to_end < threshold, to_end, avg_gap / 2))
        out = delta * (span / sampled) / (range_ms / 1000.0)
    return np.where(n >= 2, out, np.nan)


def _range_fn(model: Model, spec: dict, steps: np.ndarray) -> dict:
    sel, fn, range_ms = spec["arg"], spec["fn"], spec["range_s"] * 1000
    out = {}
    for s in model.select(sel["metric"], sel["match"]):
        k_hi = _k_at(s, steps)
        k_lo = np.maximum((steps - range_ms - T0_MS - s.off_ms)
                          // SCRAPE_MS + 1, 0)
        n = k_hi - k_lo + 1
        if fn == "rate":
            vals = _rate(s, steps, range_ms, k_lo, k_hi)
        elif fn == "avg_over_time":
            csum = np.concatenate([[0.0], np.cumsum(
                s.values(np.arange(N_SAMPLES)))])
            with np.errstate(divide="ignore", invalid="ignore"):
                vals = (csum[np.maximum(k_hi, -1) + 1]
                        - csum[np.minimum(k_lo, N_SAMPLES)]) / n
        else:
            vals = np.array([s.values(np.arange(lo, hi + 1)).max()
                             if hi >= lo else np.nan
                             for lo, hi in zip(k_lo.tolist(),
                                               k_hi.tolist())])
        out[_key(s.labels)] = (_no_name(s.labels),
                               np.where(n >= 1, vals, np.nan))
    return out


def _aggregate(vec: dict, agg: str, by: list) -> dict:
    groups: dict = {}
    for labels, vals in vec.values():
        g = {b: labels[b] for b in by if b in labels}
        groups.setdefault(_key(g), (g, []))[1].append(vals)
    out = {}
    for key, (g, members) in groups.items():
        m = np.vstack(members)
        present = ~np.isnan(m).all(axis=0)
        with np.errstate(invalid="ignore"):
            red = {"sum": np.nansum, "max": np.nanmax,
                   "avg": np.nanmean}[agg](np.where(present, m, 0.0),
                                           axis=0)
        out[key] = (g, np.where(present, red, np.nan))
    return out


def _topk(vec: dict, k: int) -> dict:
    keys = list(vec)
    if not keys:
        return {}
    m = np.vstack([vec[key][1] for key in keys])
    out = {key: (vec[key][0], np.full(m.shape[1], np.nan)) for key in keys}
    for i in range(m.shape[1]):
        col = m[:, i]
        valid = np.flatnonzero(~np.isnan(col))
        for j in valid[np.argsort(-col[valid], kind="stable")][:k]:
            out[keys[j]][1][i] = col[j]
    return out


def _bucket_quantile(q: float, buckets: list) -> float:
    """Prometheus bucketQuantile (promql/quantile.go) on (le, count)."""
    buckets = sorted(buckets)
    if not buckets or not math.isinf(buckets[-1][0]):
        return math.nan
    counts = np.maximum.accumulate([c for _, c in buckets])
    if len(buckets) < 2 or counts[-1] == 0:
        return math.nan
    rank = q * counts[-1]
    b = int(np.searchsorted(counts, rank, side="left"))
    if b == len(buckets) - 1:
        return buckets[-2][0]
    if b == 0 and buckets[0][0] <= 0:
        return buckets[0][0]
    start, end, count = 0.0, buckets[b][0], counts[b]
    if b > 0:
        start = buckets[b - 1][0]
        count -= counts[b - 1]
        rank -= counts[b - 1]
    return start + (end - start) * (rank / count)


def _hist_quantile(vec: dict, q: float) -> dict:
    groups: dict = {}
    for labels, vals in vec.values():
        g = {k: v for k, v in labels.items() if k != "le"}
        le = float(labels["le"])
        groups.setdefault(_key(g), (g, []))[1].append((le, vals))
    out = {}
    for key, (g, members) in groups.items():
        n = len(members[0][1])
        vals = np.array([
            _bucket_quantile(q, [(le, v[i]) for le, v in members
                                 if not np.isnan(v[i])])
            for i in range(n)])
        out[key] = (g, vals)
    return out


def evaluate(model: Model, spec: dict, steps: np.ndarray) -> dict:
    """{label key: (labels, values per step, NaN = absent)}."""
    op = spec["op"]
    if op == "sel":
        return _selector(model, spec, steps)
    if op == "range_fn":
        return _range_fn(model, spec, steps)
    if op == "agg":
        return _aggregate(evaluate(model, spec["arg"], steps), spec["agg"],
                          spec["by"])
    if op == "topk":
        return _topk(evaluate(model, spec["arg"], steps), spec["k"])
    if op == "hq":
        return _hist_quantile(evaluate(model, spec["arg"], steps), spec["q"])
    if op == "div":
        lhs = evaluate(model, spec["lhs"], steps)
        rhs = evaluate(model, spec["rhs"], steps)
        with np.errstate(divide="ignore", invalid="ignore"):
            return {k: (lab, v / rhs[k][1]) for k, (lab, v) in lhs.items()
                    if k in rhs}
    if op == "cmp":
        return {k: (lab, np.where(v > spec["c"], v, np.nan))
                for k, (lab, v) in evaluate(model, spec["arg"],
                                            steps).items()}
    raise ValueError(f"unknown spec op {op}")


def expected_points(model: Model, spec: dict, steps_s: list) -> dict:
    """{label key: {t_s: value}} with absent points and empty series
    dropped — the shape both matrix and vector responses reduce to."""
    steps = np.asarray(steps_s, dtype=np.int64) * 1000
    out = {}
    for key, (_, vals) in evaluate(model, spec, steps).items():
        pts = {t: float(v) for t, v in zip(steps_s, vals.tolist())
               if not math.isnan(v)}
        if pts:
            out[key] = pts
    return out


def _close(a: float, e: float) -> bool:
    if math.isinf(e) or math.isinf(a):
        return a == e
    return abs(a - e) <= ABS_TOL + REL_TOL * abs(e)


def _diff_points(exp: dict, got: dict) -> str | None:
    if set(exp) != set(got):
        missing = [dict(k) for k in set(exp) - set(got)][:2]
        extra = [dict(k) for k in set(got) - set(exp)][:2]
        return (f"series set differs: {len(exp)} expected, {len(got)} got;"
                f" missing {missing} extra {extra}")
    for key, pts in exp.items():
        g = got[key]
        if set(pts) != set(g):
            return (f"timestamps differ for {dict(key)}: expected "
                    f"{len(pts)}, got {len(g)}")
        for t, v in pts.items():
            if not _close(g[t], v):
                return f"value at {t} for {dict(key)}: expected {v}, got {g[t]}"
    return None


def check_query(model: Model, q, resp: dict, steps_s: list) -> str | None:
    """None when the response is right, else a one-line reason."""
    if resp.get("status") != "success":
        return f"status {resp.get('status')}: {resp.get('error')}"
    data = resp["data"]
    want = "matrix" if q.kind == "range" else "vector"
    if data.get("resultType") != want:
        return f"resultType {data.get('resultType')}, expected {want}"
    got = {}
    for r in data["result"]:
        pairs = r["values"] if want == "matrix" else [r["value"]]
        got[_key(r["metric"])] = {round(float(t)): float(v)
                                  for t, v in pairs}
    return _diff_points(expected_points(model, q.spec, steps_s), got)


def check_metadata(model: Model, q, resp: dict) -> str | None:
    if resp.get("status") != "success":
        return f"status {resp.get('status')}: {resp.get('error')}"
    series = model.select(q.spec["metric"], q.spec["match"])
    if q.kind == "label_values":
        exp = {s.labels[q.label] for s in series if q.label in s.labels}
        got = set(resp["data"])
    else:
        # /series adds the virtual `_type_` schema label, as the
        # reference does; every series loaded here is in the one
        # gauge/counter table, which the engine names "gauge"
        exp = {_key({**s.labels, "_type_": "gauge"}) for s in series}
        got = {_key(d) for d in resp["data"]}
    if exp != got:
        return f"{q.kind} differs: expected {len(exp)}, got {len(got)}"
    return None
