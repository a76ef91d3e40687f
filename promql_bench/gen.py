"""Seeded Prometheus-shaped inputs for the served-path benchmark.

One model describes every series: its labels (`_ws_`, `_ns_`, `job`,
`instance`, plus `code` or `le`), when it is scraped and the value at
each scrape. Everything the benchmark sends is derived from it: the
samples the server is loaded with, the PromQL panels and rules, the
remote-write bodies, and (in check.py) the expected answers.

Values are closed form so answers are exact:
- counters grow by a per-series constant each scrape, so `rate` over
  any fully covered window is exactly `inc / scrape interval`;
- gauges are `base + amp * sin(...)` with bases spaced further apart
  than 2 * amp, so rankings (topk) never tie or change;
- classic histograms are `_bucket{le=...}` counters whose per-scrape
  increments are cumulative, plus `_sum` and `_count`.

Every scrape of a target lands at `T0_MS + off + k * SCRAPE_MS` with an
offset that is never a whole second, so no sample sits on a step or a
window boundary and open/closed-interval conventions cannot matter.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
from dataclasses import dataclass, field

import numpy as np

T0_MS = 1_700_000_040_000          # a whole minute
SCRAPE_MS = 15_000
N_SAMPLES = 480                    # two hours per series
LES = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, math.inf)
JOBS = ("api", "db", "cache", "queue")
NAMESPACES = ("prod", "staging")
WS = "bench"

# targets per (namespace, job); each target exposes 15 series
INSTANCES = {"dashboard_range": 5, "rule_eval": 2, "ingest_mixed": 2}

# dashboard: every client views the same last hour of the data
DASH_START_S = (T0_MS // 1000) + 3600
DASH_END_S = (T0_MS // 1000) + 7140
DASH_STEP_S = 30
# rules: evaluation starts an hour in and advances 30 s per cycle
RULE_START_S = (T0_MS // 1000) + 3600
RULE_EVAL_STEP_S = 30
N_RULES = 100

# remote write: 96 series x 20 scrapes per request, sent on a fixed
# schedule (see README for how the rate was sized)
WRITE_SERIES_PER_REQ = 96
WRITE_SCRAPES_PER_REQ = 20
WRITE_REQ_PER_S = 40.0


@dataclass
class Series:
    labels: dict
    kind: str             # "counter" | "gauge"
    off_ms: int
    a: float              # counter: start value;  gauge: base
    b: float              # counter: increment;    gauge: amplitude
    phase: int = 0        # gauge only
    period: int = 37      # gauge only

    def ts(self, k: np.ndarray) -> np.ndarray:
        return T0_MS + self.off_ms + k.astype(np.int64) * SCRAPE_MS

    def values(self, k: np.ndarray) -> np.ndarray:
        k = k.astype(np.float64)
        if self.kind == "counter":
            return self.a + self.b * k
        return self.a + self.b * np.sin(2 * np.pi * (k + self.phase)
                                        / self.period)


@dataclass
class Query:
    kind: str             # "range" | "instant" | "label_values" | "series"
    promql: str           # query text, or the match[] selector
    spec: dict            # what check.py evaluates
    label: str | None = None     # label_values only
    time_s: int | None = None    # instant only; rules advance it per cycle


@dataclass
class Model:
    workload: str
    seed: int
    series: list = field(default_factory=list)

    def select(self, metric: str, match: dict) -> list:
        return [s for s in self.series
                if s.labels["__name__"] == metric
                and all(s.labels.get(k) == v for k, v in match.items())]


def _le_str(le: float) -> str:
    # Go client formatting ('g'): 1.0 -> "1", 0.005 -> "0.005"
    return "+Inf" if math.isinf(le) else f"{le:g}"


def build_model(workload: str, seed: int) -> Model:
    rng = random.Random(f"{workload}:{seed}")
    m = Model(workload, seed)
    targets = [(ns, job, f"{job}-{i}:9100") for ns in NAMESPACES
               for job in JOBS for i in range(INSTANCES[workload])]
    # distinct, well-separated gauge bases (topk never ties)
    ranks = list(range(len(targets)))
    rng.shuffle(ranks)
    for (ns, job, inst), rank in zip(targets, ranks):
        base = {"_ws_": WS, "_ns_": ns, "job": job, "instance": inst}
        off = 1000 * rng.randrange(10) + rng.randrange(1, 1000)

        def counter(name, inc, **extra):
            m.series.append(Series({"__name__": name, **base, **extra},
                                   "counter", off,
                                   float(rng.randrange(10_000, 1_000_000)),
                                   float(inc)))
        counter("http_requests_total", rng.randrange(20, 80), code="200")
        counter("http_requests_total", rng.randrange(1, 6), code="500")
        m.series.append(Series({"__name__": "queue_depth", **base}, "gauge",
                               off, 50.0 + 10.0 * rank + rng.random(), 3.0,
                               rng.randrange(37)))
        m.series.append(Series({"__name__": "memory_usage_bytes", **base},
                               "gauge", off,
                               float(2 ** 27 + (rank << 20)
                                     + rng.randrange(1 << 16)),
                               float(1 << 18), rng.randrange(37)))
        n_obs = rng.randrange(20, 60)
        cuts = sorted(rng.random() for _ in range(len(LES) - 2))
        fracs = [0.03 + 0.9 * c for c in cuts] + [0.97 + 0.02 * rng.random()]
        cum = 0
        for le, f in zip(LES, [*fracs, 1.0]):
            cum = max(cum, round(n_obs * f))
            counter("http_request_duration_seconds_bucket", cum,
                    le=_le_str(le))
        counter("http_request_duration_seconds_sum",
                n_obs * (0.02 + 0.1 * rng.random()))
        counter("http_request_duration_seconds_count", n_obs)
    return m


def samples_table(model: Model):
    """All samples as an Arrow table (labels map<string,string>, ts
    long, value double) — the layout every TsStore ingests."""
    import pyarrow as pa

    k = np.arange(N_SAMPLES)
    keys, vals, lens = [], [], []
    for s in model.series:
        keys += list(s.labels)
        vals += list(s.labels.values())
        lens.append(len(s.labels))
    lens = np.asarray(lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # entry indices for every row: series s repeats its own entries
    # once per sample
    idx = np.concatenate([np.tile(np.arange(st, st + ln), N_SAMPLES)
                          for st, ln in zip(starts, lens)])
    offsets = np.concatenate(
        [[0], np.cumsum(np.repeat(lens, N_SAMPLES))]).astype(np.int32)
    labels = pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(keys).take(pa.array(idx)),
        pa.array(vals).take(pa.array(idx)))
    ts = np.concatenate([s.ts(k) for s in model.series])
    value = np.concatenate([s.values(k) for s in model.series])
    return pa.table({"labels": labels, "ts": pa.array(ts),
                     "value": pa.array(value)})


# ---- PromQL text and check specs from one source ---------------------------

def _sel(metric: str, match: dict) -> dict:
    return {"op": "sel", "metric": metric, "match": dict(match)}


def _fn(fn: str, arg: dict, range_s: int) -> dict:
    return {"op": "range_fn", "fn": fn, "range_s": range_s, "arg": arg}


def _agg(agg: str, by: list, arg: dict) -> dict:
    return {"op": "agg", "agg": agg, "by": list(by), "arg": arg}


def render(spec: dict) -> str:
    """PromQL text for a spec — the only place query text is made, so
    the query sent and the answer checked cannot drift apart."""
    op = spec["op"]
    if op == "sel":
        ms = ",".join(f'{k}="{v}"' for k, v in spec["match"].items())
        return f"{spec['metric']}{{{ms}}}"
    if op == "range_fn":
        return f"{spec['fn']}({render(spec['arg'])}[{spec['range_s']}s])"
    if op == "agg":
        by = f" by ({', '.join(spec['by'])}) " if spec["by"] else ""
        return f"{spec['agg']}{by}({render(spec['arg'])})"
    if op == "topk":
        return f"topk({spec['k']}, {render(spec['arg'])})"
    if op == "hq":
        return f"histogram_quantile({spec['q']}, {render(spec['arg'])})"
    if op == "div":
        return f"{render(spec['lhs'])} / {render(spec['rhs'])}"
    if op == "cmp":
        return f"{render(spec['arg'])} > {spec['c']}"
    raise ValueError(f"unknown spec op {op}")


def _q(kind: str, spec: dict, **kw) -> Query:
    return Query(kind, render(spec), spec, **kw)


REQ = "http_requests_total"
BUCKET = "http_request_duration_seconds_bucket"


def dashboard_panels(model: Model) -> list:
    """One Grafana-style dashboard per namespace: ten range panels (two
    of them heavy: the quantile and the error ratio) and two metadata
    lookups (template variables). Clients replay the list from
    different offsets, so every panel repeats across clients. The seed
    picks labels, quantiles and k but never a window: the work a panel
    does must not depend on the seed."""
    rng = random.Random(f"panels:{model.seed}")
    out = []
    w = 300                   # Grafana's usual rate interval at 15 s scrapes
    for ns in NAMESPACES:
        job = rng.choice(JOBS)
        nsm = {"_ns_": ns}
        out += [
            _q("label_values", _sel(REQ, nsm), label="job"),
            _q("range", _agg("sum", [], _fn("rate", _sel(REQ, nsm), w))),
            _q("range", _sel("queue_depth", {**nsm, "job": job})),
            _q("range", _agg("max", [], _sel("queue_depth", nsm))),
            _q("range", _fn("rate", _sel(REQ, nsm), w)),
            _q("range", _agg("sum", ["code"],
                             _fn("rate", _sel(REQ, nsm), w))),
            _q("range", _agg("sum", ["job"], _fn("rate", _sel(REQ, nsm), w))),
            _q("range", _agg("avg", ["job"],
                             _sel("memory_usage_bytes", nsm))),
            _q("range", {"op": "hq", "q": rng.choice((0.5, 0.9, 0.95)),
                         "arg": _agg("sum", ["le"], _fn(
                             "rate", _sel(BUCKET, {**nsm, "job": job}),
                             w))}),
            _q("series", _sel("memory_usage_bytes", {**nsm, "job": job})),
            _q("range", {"op": "topk", "k": rng.choice((3, 5)),
                         "arg": _fn("avg_over_time",
                                    _sel("queue_depth", nsm), w)}),
            _q("range", {"op": "div",
                         "lhs": _agg("sum", ["job"], _fn(
                             "rate", _sel(REQ, {**nsm, "code": "500"}), w)),
                         "rhs": _agg("sum", ["job"],
                                     _fn("rate", _sel(REQ, nsm), w))}),
        ]
    return out


def _rule_templates(rng: random.Random, i: int) -> dict:
    """Spec of rule i: template i % 9 (a recording rule or an alert
    condition), with namespace, job, window and threshold from rng."""
    ns = rng.choice(NAMESPACES)
    job = rng.choice(JOBS)
    w = rng.choice((60, 120, 300, 600))
    nsm = {"_ns_": ns}
    t = i % 9
    if t == 0:
        return _agg("sum", ["job"], _fn(
            "rate", _sel(REQ, {**nsm, "code": rng.choice(("200", "500"))}),
            w))
    if t == 1:
        return _agg("sum", ["instance"],
                    _fn("rate", _sel(REQ, {**nsm, "job": job}), w))
    if t == 2:
        return {"op": "hq", "q": rng.choice((0.5, 0.9, 0.99)),
                "arg": _agg("sum", ["le"], _fn(
                    "rate", _sel(BUCKET, {**nsm, "job": job}), w))}
    if t == 3:
        return {"op": "cmp", "c": float(rng.randrange(1, 5)) / 10,
                "arg": _fn("rate", _sel(REQ, {**nsm, "job": job,
                                              "code": "500"}), w)}
    if t == 4:
        return _agg("avg", ["instance"], _fn(
            "avg_over_time", _sel("queue_depth", {**nsm, "job": job}), w))
    if t == 5:
        return {"op": "cmp", "c": float(2 ** 27 + rng.randrange(64) * 2 ** 20),
                "arg": _fn("max_over_time",
                           _sel("memory_usage_bytes",
                                {**nsm, "job": job}), w)}
    if t == 6:
        jm = {**nsm, "job": job}
        return {"op": "div",
                "lhs": _agg("sum", ["instance"], _fn(
                    "rate", _sel(REQ, {**jm, "code": "500"}), w)),
                "rhs": _agg("sum", ["instance"],
                            _fn("rate", _sel(REQ, jm), w))}
    if t == 7:
        return _agg("max", ["instance"], _sel(
            rng.choice(("queue_depth", "memory_usage_bytes")),
            {**nsm, "job": job}))
    return {"op": "div",
            "lhs": _agg("sum", ["job"], _fn(
                "rate", _sel("http_request_duration_seconds_sum",
                             {**nsm, "job": job}), w)),
            "rhs": _agg("sum", ["job"], _fn(
                "rate", _sel("http_request_duration_seconds_count",
                             {**nsm, "job": job}), w))}


def rule_groups(model: Model, n_groups: int) -> list:
    """~100 distinct recording/alert rules split round-robin into
    groups. Rule i uses template i % 9, so any run of consecutive rules
    in a group holds every template; the seed picks each rule's
    namespace, job, window and threshold."""
    rng = random.Random(f"rules:{model.seed}")
    seen, rules = set(), []
    for _ in range(100 * N_RULES):
        spec = _rule_templates(rng, len(rules))
        text = render(spec)
        if text not in seen:
            seen.add(text)
            rules.append(_q("instant", spec))
        if len(rules) == N_RULES:
            return [rules[g::n_groups] for g in range(n_groups)]
    raise ValueError(f"templates yield fewer than {N_RULES} rules")


def warmup_queries(model: Model) -> list:
    """Every query shape the workload sends, once. The first query of a
    shape generates and compiles code that the server then reuses, and
    a long-running server has paid that already. Rules are instantiated
    with other labels and the run.py warm-up shifts every time, so
    nothing the measured window asks for is cached beforehand."""
    if model.workload == "dashboard_range":
        return [q for q in dashboard_panels(model) if q.kind == "range"][:10]
    rng = random.Random("warm")
    t = RULE_START_S - 1800
    return [_q("instant", _rule_templates(rng, i), time_s=t)
            for i in range(9)]


# ---- remote write ---------------------------------------------------------

def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(num: int, payload: bytes) -> bytes:
    return _uvarint(num << 3 | 2) + _uvarint(len(payload)) + payload


def _snappy_literal(data: bytes) -> bytes:
    """Snappy block made only of literal elements (valid for any
    reader; no compression)."""
    out = bytearray(_uvarint(len(data)))
    for i in range(0, len(data), 65536):
        chunk = data[i:i + 65536]
        n = len(chunk) - 1
        if n < 60:
            out.append(n << 2)
        elif n < 256:
            out += bytes([60 << 2, n])
        else:
            out.append(61 << 2)
            out += n.to_bytes(2, "little")
        out += chunk
    return bytes(out)


def _samples_bytes(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Repeated `Sample samples = 2` fields. Every timestamp of the model
    is a 6-byte varint (2^35 <= ts < 2^42), so each field is exactly 18
    bytes and the encoding vectorizes."""
    if ts.min() < 1 << 35 or ts.max() >= 1 << 42:
        raise ValueError("timestamps outside the 6-byte varint range")
    out = np.empty((len(ts), 18), dtype=np.uint8)
    out[:, 0], out[:, 1], out[:, 2] = 0x12, 16, 0x09
    out[:, 3:11] = vals.astype("<f8").view(np.uint8).reshape(-1, 8)
    out[:, 11] = 0x10
    u = ts.astype(np.uint64)
    for i in range(6):
        b = (u >> np.uint64(7 * i)) & np.uint64(0x7F)
        out[:, 12 + i] = b | np.uint64(0x80 if i < 5 else 0)
    return out.tobytes()


def write_request(series_samples) -> bytes:
    """prompb WriteRequest for [(labels, ts array, value array)],
    snappy-framed — what a Prometheus remote-write sender POSTs."""
    samples = _samples_bytes(
        np.concatenate([ts for _, ts, _ in series_samples]),
        np.concatenate([v for _, _, v in series_samples]))
    body, pos = bytearray(), 0
    for labels, ts, _ in series_samples:
        lab_part = b"".join(
            _ld(1, _ld(1, k.encode()) + _ld(2, v.encode()))
            for k, v in sorted(labels.items()))
        end = pos + 18 * len(ts)
        body += _ld(1, lab_part + samples[pos:end])
        pos = end
    return _snappy_literal(bytes(body))


def write_schedule(model: Model, seconds: float) -> list:
    """(due offset s, body, samples) for every request of a run: the
    model's series continue past the loaded data, 96 series x 20 new
    scrapes per request, cycling through the series."""
    n_req = int(math.ceil(seconds * WRITE_REQ_PER_S))
    blocks = max(1, len(model.series) // WRITE_SERIES_PER_REQ)
    out = []
    for r in range(n_req):
        blk, rnd = r % blocks, r // blocks
        k = np.arange(N_SAMPLES + rnd * WRITE_SCRAPES_PER_REQ,
                      N_SAMPLES + (rnd + 1) * WRITE_SCRAPES_PER_REQ)
        chosen = model.series[blk * WRITE_SERIES_PER_REQ:
                              (blk + 1) * WRITE_SERIES_PER_REQ]
        body = write_request([(s.labels, s.ts(k), s.values(k))
                              for s in chosen])
        out.append((r / WRITE_REQ_PER_S, body, len(chosen) * len(k)))
    return out


def digest(model: Model, queries: list, writes: list) -> str:
    """sha256 over everything the server receives: series, samples
    parameters, query texts and write bodies."""
    h = hashlib.sha256()
    for s in model.series:
        h.update(json.dumps([s.labels, s.kind, s.off_ms, s.a, s.b, s.phase,
                             s.period], sort_keys=True).encode())
    for q in queries:
        h.update(json.dumps([q.kind, q.promql, q.label, q.time_s]).encode())
    for due, body, _ in writes:
        h.update(repr(due).encode())
        h.update(body)
    return h.hexdigest()
