"""Seeded request generator.

Builds `POST /` envelopes in the shape of the reference load generator
(`tests/main.go`): random time-series rows with epoch-ms timestamps inside
one hour, a GUID-like batch id, and a `file` path of the form
`<source>/YYYY/MM/DD/HH/<id>.parquet`. Every body is built up front, before
the program starts. For each envelope the generator records the echo the
gateway must return and the per-row facts the output checks need.

The same (seed, stream, index) always gives the same bytes.
"""
import json

import numpy as np

HOUR_MS = 3_600_000
DAY0_MS = 1_697_068_800_000  # 2023-10-12T00:00:00Z
PROJECTS = [f"project-{i:02d}" for i in range(12)]
RESOLUTIONS = ["1s", "10s", "1m", "15m", "1h"]
# stream tags keep the random streams of one seed apart
STREAMS = {"warm": 1, "main": 2, "base": 3, "live": 4, "close": 5}


class Envelope:
    """One request body and the facts the checks need about it."""

    __slots__ = ("body", "id", "hour", "time_generated", "rows",
                 "max_ts", "min_ts", "quality_sum", "by_project", "point_ids")

    def expected_echo(self):
        return {"id": self.id, "timeGenerated": self.time_generated,
                "maxTimestamp": self.max_ts}


def _guid(rng):
    a, b, c, d, e = (int(x) for x in rng.integers(0, 1 << 32, size=5, dtype=np.uint64))
    return "%08x-%04x-4%03x-%04x-%08x%04x" % (
        a, b & 0xFFFF, c & 0xFFF, 0x8000 | (d & 0x3FFF), e, b >> 16)


def envelope(seed, stream, index, rows, source, hour, keep_points=False):
    """Envelope `index` of `stream`: `rows` rows in hour `hour` (0-23) of DAY0."""
    rng = np.random.default_rng([seed, STREAMS[stream], index])
    env = Envelope()
    env.id = _guid(rng)
    env.hour = hour
    env.rows = rows
    start = DAY0_MS + hour * HOUR_MS
    # generated after its own hour; strictly increasing with the index
    env.time_generated = DAY0_MS + 24 * HOUR_MS + STREAMS[stream] * 10_000_000 + index
    ts = start + rng.integers(0, HOUR_MS, size=rows)
    offs = rng.integers(-12, 13, size=rows)
    pts = rng.integers(0, 1 << 62, size=rows, dtype=np.int64)
    seqs = rng.integers(0, 1_000_000, size=rows)
    proj = rng.integers(0, len(PROJECTS), size=rows)
    # values on a quarter grid: exact in binary, so sums and means over
    # them are exact in both the engine and the checks
    vals = rng.integers(0, 400_000, size=rows)
    res = rng.integers(0, len(RESOLUTIONS), size=rows)
    qual = rng.integers(0, 256, size=rows)
    point_ids = ["pt-%016x" % p for p in pts.tolist()]
    vl = vals.tolist()
    pl = proj.tolist()
    parts = [
        '{"timestamp":%d,"timeOffsetHours":%d,"pointId":"%s","sequence":%d,'
        '"project":"%s","value":%r,"res":"%s","quality":%d}'
        % (t, o, p, s, PROJECTS[j], v / 4, RESOLUTIONS[r], q)
        for t, o, p, s, j, v, r, q in zip(ts.tolist(), offs.tolist(), point_ids,
                                          seqs.tolist(), pl, vl, res.tolist(),
                                          qual.tolist())]
    file = "%s/2023/10/12/%02d/%s.parquet" % (source, hour, env.id)
    head = '{"id":"%s","source":"%s","timeGenerated":%d,"file":"%s","content":[' % (
        env.id, source, env.time_generated, file)
    env.body = (head + ",".join(parts) + "]}").encode()
    env.max_ts = int(ts.max())
    env.min_ts = int(ts.min())
    env.quality_sum = int(qual.sum())
    sums = np.bincount(proj, weights=vals, minlength=len(PROJECTS))
    counts = np.bincount(proj, minlength=len(PROJECTS))
    env.by_project = {PROJECTS[i]: (int(counts[i]), int(sums[i]))
                      for i in range(len(PROJECTS)) if counts[i]}
    env.point_ids = set(point_ids) if keep_points else None
    return env


def envelopes(seed, stream, count, rows, source, keep_points=False):
    """`count` envelopes of one stream, the hour cycling over 24."""
    return [envelope(seed, stream, i, rows, source, i % 24, keep_points)
            for i in range(count)]


def source_aggregates(envs):
    """Expected answers of the ledger queries over a set of envelopes."""
    by_project, by_hour = {}, {}
    for e in envs:
        by_hour[e.hour] = by_hour.get(e.hour, 0) + e.rows
        for p, (n, s) in e.by_project.items():
            n0, s0 = by_project.get(p, (0, 0))
            by_project[p] = (n0 + n, s0 + s)
    return {
        "by_hour": by_hour,
        # avg(value) = (sum of quarter units / 4) / count, one IEEE division
        "by_project": {p: (n, (s / 4) / n) for p, (n, s) in by_project.items()},
    }


def query_mix(base_hour):
    """The five `/query` bodies of ledger_mixed, as (name, body)."""
    return [
        ("count_all", "SELECT count(*) AS n FROM OmyaData"),
        ("base_hour",
         "SELECT count(*) AS n, sum(quality) AS q, min(timestamp) AS mn, "
         "max(timestamp) AS mx FROM OmyaData WHERE source = 'factory-base' "
         f"AND year = 2023 AND month = 10 AND day = 12 AND hour = {base_hour}"),
        ("kql_take", json.dumps(
            {"db": "perfbench",
             "csl": 'OmyaData | where source == "factory-base" | take 100'})),
        ("kql_by_project", json.dumps(
            {"db": "perfbench",
             "csl": 'OmyaData | where source == "factory-base" '
                    '| summarize n = count(), v = avg(value) by project'})),
        ("kql_by_hour", json.dumps(
            {"db": "perfbench",
             "csl": 'OmyaData | where source == "factory-base" '
                    '| summarize n = count() by bin(timestamp, 3600000)'})),
    ]
