"""Seeded, Prometheus-shaped workload generator with known answers.

Everything the benchmark sends to the engine comes from here, and so
does every answer it expects back. The shape is fixed and only the
seed-chosen details vary (label values, slopes, phases, which series a
request targets), so result sizes stay the same from seed to seed:

- 100 instances over 3 jobs and 2 envs; `pod` exists on job=api only;
- 6 metric families, 1,204 series:
  http_requests_total (counter, x3 codes), node_cpu_seconds_total
  (counter, x3 modes, distinct slopes), process_resident_memory_bytes
  (gauge), up (gauge), http_request_duration_ms (raw observations, x2
  handlers — what the engine's histogram_quantile buckets), and
  http_request_duration_ms_bucket (cumulative `le` counters, job=api);
- one sample per series per minute over 24 h: 12 two-hour blocks.

Every value is an integer, so sums are exact in float64 whatever order
the engine adds them in. Counters grow by a fixed per-series slope and
never reset, so rate/increase/sum answers are exact too.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

T0_MS = 1_700_006_400_000  # 2 h aligned
BLOCK_MS = 7_200_000
SCRAPE_MS = 60_000
N_SCRAPES = 24 * 60  # 24 h
T_END_MS = T0_MS + N_SCRAPES * SCRAPE_MS
HOUR_MS = 3_600_000
# appended data never overlaps the base store: remote writes land in
# the first day after it, shipped blocks from the second day on (with
# one level-2 decoy block just before that, which must never ship)
WRITE_T0_MS = T_END_MS
SHIP_T0_MS = T_END_MS + 24 * HOUR_MS

JOBS = ("api", "db", "cache")
ENVS = ("prod", "staging")
N_INSTANCES = 100
CODES = ("200", "404", "500")
MODES = ("user", "system", "idle")
HANDLERS = ("/query", "/health")
LE = ("25", "50", "100", "250", "500", "+Inf")
HIST_LE = (25.0, 50.0, 100.0, 250.0, 500.0)  # engine virtual buckets

WRITE_SERIES = 500
WRITE_SAMPLES_PER_SERIES = 4
SHIP_SERIES = 20


def series_id(labels: dict[str, str]) -> int:
    """60-bit id of a label set: md5 of the canonical `n=v,...` key —
    the id the remote-write receiver derives for the same labels."""
    key = ",".join(f"{n}={v}" for n, v in sorted(labels.items()))
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def label_matches(labels: dict[str, str], op: str, name: str, value: str) -> bool:
    """Prometheus matcher semantics; an absent label reads as ""."""
    have = labels.get(name, "")
    if op == "=":
        return have == value
    if op == "!=":
        return have != value
    hit = re.fullmatch(value, have) is not None
    return hit if op == "=~" else not hit


class Dataset:
    """The base store's series and samples, plus request builders."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = np.random.default_rng(seed)
        octets = rng.choice(250 * 250, size=N_INSTANCES, replace=False)
        instances = []
        for i in range(N_INSTANCES):
            inst = {
                "job": JOBS[i % 3],
                "env": ENVS[(i // 3) % 2],
                "instance": f"10.{octets[i] // 250}.{octets[i] % 250}.{i}:9100",
            }
            if inst["job"] == "api":
                inst["pod"] = f"api-{rng.integers(16**6):06x}"
            instances.append(inst)
        self.instances = instances

        labels: list[dict[str, str]] = []
        kinds: list[tuple] = []  # (kind, a, b) per series
        cpu_slopes = rng.permutation(len(MODES) * N_INSTANCES) + 1
        for i, inst in enumerate(instances):
            for code in CODES:
                labels.append({"__name__": "http_requests_total", **inst, "code": code})
                kinds.append(("counter", int(rng.integers(10_000)), int(rng.integers(1, 41))))
            for m, mode in enumerate(MODES):
                labels.append({"__name__": "node_cpu_seconds_total", **inst, "mode": mode})
                kinds.append(("counter", int(rng.integers(10_000)), int(cpu_slopes[i * 3 + m])))
            labels.append({"__name__": "process_resident_memory_bytes", **inst})
            kinds.append(("memory", int(rng.integers(64, 512)), int(rng.integers(64))))
            labels.append({"__name__": "up", **inst})
            kinds.append(("const", 1, 0))
            for handler in HANDLERS:
                labels.append({"__name__": "http_request_duration_ms", **inst, "handler": handler})
                kinds.append(("latency", int(rng.integers(1, 600, endpoint=True)) | 1, int(rng.integers(600))))
            if inst["job"] == "api":
                step = sorted(int(x) for x in rng.integers(0, 20, size=len(LE)))
                for j, le in enumerate(LE):
                    labels.append(
                        {"__name__": "http_request_duration_ms_bucket", **inst, "le": le}
                    )
                    kinds.append(("counter", 0, 1 + sum(step[: j + 1])))
        self.labels = labels
        self.kinds = kinds
        self.ids = np.array([series_id(l) for l in labels], dtype=np.int64)
        self.offsets = rng.integers(0, 60, size=len(labels)) * 1000
        k = np.arange(N_SCRAPES, dtype=np.int64)
        self.ts = T0_MS + self.offsets[:, None] + k[None, :] * SCRAPE_MS
        self.values = np.stack([self.value_at(s, k) for s in range(len(labels))])

    # -- values ------------------------------------------------------------
    def value_at(self, s: int, k: np.ndarray) -> np.ndarray:
        """Value of series `s` at scrape index `k` (k may run past the
        base store's end, which is how appended data continues it)."""
        kind, a, b = self.kinds[s]
        k = np.asarray(k, dtype=np.int64)
        if kind == "counter":
            v = a + b * k
        elif kind == "memory":
            v = a * 1_048_576 + ((k * 37 + b) % 64) * 4096
        elif kind == "latency":
            v = (k * a + b) % 600 + 1
        else:
            v = np.full(k.shape, a)
        return v.astype(np.float64)

    def select(self, matchers) -> list[int]:
        """Indices of the series every matcher accepts."""
        return [
            s
            for s, lab in enumerate(self.labels)
            if all(label_matches(lab, *m) for m in matchers)
        ]

    def series_dim(self) -> tuple[np.ndarray, list[list[tuple[str, str]]]]:
        return self.ids, [sorted(l.items()) for l in self.labels]

    # -- remote read -------------------------------------------------------
    def read_expect(self, matchers, start_ms: int, end_ms: int) -> dict:
        """Series, samples, time bounds and value sum of one remote-read
        query (both bounds inclusive, series without samples dropped)."""
        n_series = n = 0
        total = 0.0
        lo, hi = None, None
        for s in self.select(matchers):
            m = (self.ts[s] >= start_ms) & (self.ts[s] <= end_ms)
            c = int(m.sum())
            if not c:
                continue
            t = self.ts[s][m]
            n_series += 1
            n += c
            total += float(self.values[s][m].sum())
            lo = int(t[0]) if lo is None else min(lo, int(t[0]))
            hi = int(t[-1]) if hi is None else max(hi, int(t[-1]))
        return {"series": n_series, "samples": n, "sum": total, "mint": lo, "maxt": hi}

    def _pick(self, rng, **want) -> dict:
        """A random instance with the given job/env."""
        pool = [
            inst
            for inst in self.instances
            if all(inst[k] == v for k, v in want.items())
        ]
        return pool[int(rng.integers(len(pool)))]

    # (shape, hours, streamed) in the order a caller sends them: the
    # large reads first, so a run's first four reads per caller (all a
    # short window reliably completes) always hold the same sizes
    READ_SHAPES = (
        ("latency", 24, False),  # =, 12 blocks, ~50 k samples
        ("cpu_busy", 6, True),  # !=, ~36 k, streamed
        ("buckets", 24, False),  # =~ over 3 instances, ~26 k
        ("memory_up", 6, False),  # =~ over 2 metrics, ~24 k
        ("no_pod", 1, False),  # absent label, ~12 k
        ("requests", 1, False),  # =, ~3 k
        ("requests", 1, True),  # =, ~3 k, streamed
        ("cpu_busy", 6, False),  # !=, ~36 k
    )

    def read_requests(self, rng, n: int) -> list[dict]:
        """`n` remote-read requests cycling through READ_SHAPES: matcher
        kinds =, =~, != and absent label; 1 h, 6 h and 24 h ranges (1 to
        12 blocks); about 3 k to 50 k samples; 2 of every 8 streamed."""
        out = []
        for i in range(n):
            shape, hours, streamed = self.READ_SHAPES[i % len(self.READ_SHAPES)]
            job = JOBS[int(rng.integers(3))]
            env = ENVS[int(rng.integers(2))]
            start = T0_MS + int(rng.integers(0, 24 - hours + 1)) * HOUR_MS
            end = start + hours * HOUR_MS - 1
            if shape == "requests":
                ms = [("=", "__name__", "http_requests_total"), ("=", "job", job), ("=", "env", env)]
            elif shape == "memory_up":
                ms = [("=~", "__name__", "process_resident_memory_bytes|up"), ("=", "job", job)]
            elif shape == "cpu_busy":
                ms = [("=", "__name__", "node_cpu_seconds_total"), ("!=", "mode", "idle"), ("=", "env", env)]
            elif shape == "no_pod":
                ms = [("=", "__name__", "http_requests_total"), ("=", "pod", "")]
            elif shape == "latency":
                ms = [("=", "__name__", "http_request_duration_ms"), ("=", "job", job), ("=", "env", env)]
            else:
                picks: set[str] = set()
                while len(picks) < 3:
                    picks.add(self._pick(rng, job="api")["instance"])
                ms = [
                    ("=", "__name__", "http_request_duration_ms_bucket"),
                    ("=~", "instance", "|".join(re.escape(p) for p in sorted(picks))),
                ]
            out.append(
                {
                    "kind": "read",
                    "matchers": ms,
                    "start": start,
                    "end": end,
                    "streamed": streamed,
                    "expect": self.read_expect(ms, start, end),
                }
            )
        return out

    def probe_reads(self, rng, n: int) -> list[dict]:
        """Small 1 h reads of one instance's request counters."""
        out = []
        for i in range(n):
            inst = self.instances[int(rng.integers(N_INSTANCES))]
            start = T0_MS + int(rng.integers(0, 24)) * HOUR_MS
            ms = [("=", "__name__", "node_cpu_seconds_total"), ("=", "job", inst["job"]), ("=", "env", inst["env"])]
            out.append(
                {
                    "kind": "read",
                    "matchers": ms,
                    "start": start,
                    "end": start + HOUR_MS - 1,
                    "streamed": i % 4 == 3,
                    "expect": self.read_expect(ms, start, start + HOUR_MS - 1),
                }
            )
        return out

    # -- PromQL ------------------------------------------------------------
    def _deltas(self, s: int, start: int, end: int):
        """(ts, reset-corrected delta) of consecutive selected samples."""
        m = (self.ts[s] >= start) & (self.ts[s] <= end)
        t, v = self.ts[s][m], self.values[s][m]
        d = np.where(v[1:] >= v[:-1], v[1:] - v[:-1], v[1:])
        return t[1:], d

    def _rates(self, s: int, start: int, end: int, bucket: int) -> dict[int, float]:
        """Engine rate(): tumbling buckets, each delta in the bucket of
        its later sample, increase rounded to 4 places."""
        t, d = self._deltas(s, start, end)
        out: dict[int, float] = {}
        for b in np.unique(t // bucket):
            inc = round(float(d[t // bucket == b].sum()), 4)
            out[int(b * bucket)] = inc / (bucket / 1000.0)
        return out

    def promql_requests(self, rng, n: int, phase: int = 0) -> list[dict]:
        """`n` /api/v1/query_range requests cycling through 6 shapes
        from `phase` on: rate, sum by rate, histogram_quantile, topk,
        sliding avg_over_time (6 h and 24 h ranges, 5 m or 1 h steps)."""
        out = []
        for i in range(phase, phase + n):
            shape = i % 6
            job = JOBS[int(rng.integers(3))]
            env = ENVS[int(rng.integers(2))]
            hours = 24 if shape in (4, 5) else 6
            start = T0_MS + int(rng.integers(0, 24 - hours + 1)) * HOUR_MS
            end = start + hours * HOUR_MS - 1
            if shape == 0:
                q = f'rate(http_requests_total{{job="{job}"}}[5m])'
                exp = self.expect_rate(
                    [("=", "__name__", "http_requests_total"), ("=", "job", job)], start, end, 300_000
                )
                step = 300
            elif shape == 1:
                q = "sum by (job) (rate(http_requests_total[5m]))"
                exp = self.expect_sum_rate(
                    [("=", "__name__", "http_requests_total")], "job", start, end, 300_000
                )
                step = 300
            elif shape == 2:
                q = "histogram_quantile(0.9, sum by (job, le) (rate(http_request_duration_ms_bucket[5m])))"
                exp = self.expect_hist_quantile(0.9, "job", start, end, 300_000)
                step = 300
            elif shape == 3:
                q = f'topk(5, rate(node_cpu_seconds_total{{env="{env}"}}[5m]))'
                exp = self.expect_topk(
                    5, [("=", "__name__", "node_cpu_seconds_total"), ("=", "env", env)], start, end, 300_000
                )
                step = 300
            elif shape == 4:
                q = f'avg_over_time(process_resident_memory_bytes{{job="{job}"}}[10m])'
                exp = self.expect_avg_sliding(
                    [("=", "__name__", "process_resident_memory_bytes"), ("=", "job", job)],
                    start, end, 600_000, 300_000,
                )
                step = 300
            else:
                q = 'sum by (env) (rate(node_cpu_seconds_total{mode="user"}[1h]))'
                exp = self.expect_sum_rate(
                    [("=", "__name__", "node_cpu_seconds_total"), ("=", "mode", "user")],
                    "env", start, end, HOUR_MS,
                )
                step = 3600
            out.append(self._promql(q, start, end, step, exp))
        return out

    @staticmethod
    def _promql(q, start, end, step, exp) -> dict:
        series, points = exp
        return {
            "kind": "query_range",
            "query": q,
            "start": start,
            "end": end,
            "step": step,
            "expect": {"series": series, "points": sorted(points)},
        }

    def expect_rate(self, matchers, start, end, bucket):
        points = []
        series = 0
        for s in self.select(matchers):
            r = self._rates(s, start, end, bucket)
            series += bool(r)
            points += [(b / 1000.0, v) for b, v in r.items()]
        return series, points

    def expect_sum_rate(self, matchers, by, start, end, bucket):
        groups: dict[tuple, float] = {}
        for s in self.select(matchers):
            for b, v in self._rates(s, start, end, bucket).items():
                key = (self.labels[s][by], b)
                groups[key] = groups.get(key, 0.0) + v
        keys = {k[0] for k in groups}
        return len(keys), [(b / 1000.0, round(v, 4)) for (_, b), v in groups.items()]

    def expect_topk(self, k, matchers, start, end, bucket):
        scored = []
        for s in self.select(matchers):
            r = self._rates(s, start, end, bucket)
            if r:
                scored.append((-round(sum(r.values()), 4), int(self.ids[s])))
        top = sorted(scored)[:k]
        return len(top), [((end) / 1000.0, -v) for v, _ in top]

    def expect_avg_sliding(self, matchers, start, end, window, step):
        points = []
        series = 0
        for s in self.select(matchers):
            m = (self.ts[s] >= start) & (self.ts[s] <= end)
            t, v = self.ts[s][m], self.values[s][m]
            if not len(t):
                continue
            series += 1
            first = (t[0] // step) * step - (window - step)
            for w in range(int(first), int(t[-1]) + 1, step):
                sel = (t >= w) & (t < w + window)
                if sel.any():
                    points.append((w / 1000.0, round(float(v[sel].mean()), 6)))
        return series, points

    def expect_hist_quantile(self, q, by, start, end, bucket):
        """Engine histogram_quantile over the virtual `_bucket` metric:
        raw observations counted per (group, bucket) into HIST_LE."""
        counts: dict[tuple, list[int]] = {}
        for s in self.select([("=", "__name__", "http_request_duration_ms")]):
            m = (self.ts[s] >= start) & (self.ts[s] <= end)
            t, v = self.ts[s][m], self.values[s][m]
            for b in np.unique(t // bucket):
                vb = v[t // bucket == b]
                c = counts.setdefault((self.labels[s][by], int(b * bucket)), [0] * (len(HIST_LE) + 1))
                for i, le in enumerate(HIST_LE):
                    c[i] += int((vb <= le).sum())
                c[-1] += len(vb)
        points = []
        les = list(HIST_LE) + [float("inf")]
        for (_, b), cum in counts.items():
            rank = q * cum[-1]
            prev_cum, prev_le = 0, 0.0
            for le, c in zip(les, cum):
                if c >= rank and prev_cum < rank:
                    if le == float("inf"):
                        x = HIST_LE[-1]
                    else:
                        x = prev_le + (le - prev_le) * (rank - prev_cum) / (c - prev_cum)
                    points.append((b / 1000.0, np.floor(x * 1e6 + 0.5) / 1e6))
                    break
                prev_cum, prev_le = c, le
        return len({k[0] for k in counts}), points

    # -- ingest ------------------------------------------------------------
    def write_series(self) -> list[int]:
        """The 500 counter series remote writes continue."""
        counters = [s for s, k in enumerate(self.kinds) if k[0] == "counter"]
        rng = np.random.default_rng(self.seed + 1)
        return sorted(rng.choice(counters, size=WRITE_SERIES, replace=False).tolist())

    def write_batch(self, b: int) -> tuple[list, dict]:
        """Remote-write batch `b`: 4 new samples for each of 500
        series, after the base store. Returns ([(labels, [(v, t)])],
        expected counts)."""
        ks = N_SCRAPES + b * WRITE_SAMPLES_PER_SERIES + np.arange(WRITE_SAMPLES_PER_SERIES)
        ts = WRITE_T0_MS + (ks - N_SCRAPES) * SCRAPE_MS
        out = []
        total = 0.0
        for s in self.write_series():
            v = self.value_at(s, ks)
            total += float(v.sum())
            out.append((sorted(self.labels[s].items()), [(float(x), int(t) + int(self.offsets[s])) for x, t in zip(v, ts)]))
        return out, {"samples": WRITE_SERIES * WRITE_SAMPLES_PER_SERIES, "sum": total}

    def ship_series(self) -> list[int]:
        rng = np.random.default_rng(self.seed + 2)
        return sorted(rng.choice(len(self.labels), size=SHIP_SERIES, replace=False).tolist())

    def ship_block(self, n: int) -> tuple[list, dict, int]:
        """Two-hour block `n` after SHIP_T0_MS (n = -1 is the level-2
        decoy slot): ([(labels, [(t, v)])], expected counts, mint)."""
        mint = SHIP_T0_MS + n * BLOCK_MS
        per_block = BLOCK_MS // SCRAPE_MS
        ks = N_SCRAPES + 24 * 60 + n * per_block + np.arange(per_block)
        ts = mint + np.arange(per_block, dtype=np.int64) * SCRAPE_MS
        out = []
        total = 0.0
        for s in self.ship_series():
            v = self.value_at(s, ks)
            total += float(v.sum())
            out.append((dict(self.labels[s]), [(int(t) + int(self.offsets[s]), float(x)) for t, x in zip(ts, v)]))
        return out, {"samples": SHIP_SERIES * per_block, "sum": total}, mint
