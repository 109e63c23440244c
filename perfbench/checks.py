"""Output checks. Each returns a list of failure messages (empty = pass)."""
import json
import os
import subprocess
import sys

import gen


def echo(env, status, body):
    if status != 200:
        return [f"POST {env.id}: status {status}: {body[:200]}"]
    try:
        got = json.loads(body)
    except ValueError:
        return [f"POST {env.id}: reply is not JSON: {body[:200]}"]
    want = env.expected_echo()
    return [] if got == want else [f"POST {env.id}: echo {got} != {want}"]


def guarded(check):
    """A reply of an unexpected shape is a failed check, not a crash."""
    def run(name, body, *args):
        try:
            return check(name, body, *args)
        except (ValueError, KeyError, TypeError, IndexError) as e:
            return [f"{name}: unexpected reply ({e!r}): {body[:200]}"]
    return run


def rows(body):
    """Rows of a `/query` reply (a JSON array, or the truncated form)."""
    data = json.loads(body)
    return data["rows"] if isinstance(data, dict) else data


@guarded
def registers(name, body, last_time_generated, max_ts):
    got = json.loads(body)
    want = {"lastTimeGenerated": last_time_generated, "maxTimestamp": max_ts}
    return [] if got == want else [f"{name}: {got} != {want}"]


@guarded
def ledger_count(name, body, expected):
    got = rows(body)[0]["n"]
    return [] if got == expected else [f"{name}: ledger holds {got} rows, {expected} acked"]


@guarded
def mix_answer(name, body, base, base_hour_env, lo=None, hi=None):
    """Check one reply of the ledger_mixed query mix. `base` holds the
    expected factory-base aggregates; `lo`/`hi` bound the live count."""
    rs = rows(body)
    if name == "count_all":
        n = rs[0]["n"]
        return [] if lo <= n <= hi else [f"count_all: {n} not in [{lo}, {hi}]"]
    if name == "base_hour":
        e = base_hour_env
        want = {"n": e.rows, "q": e.quality_sum, "mn": e.min_ts, "mx": e.max_ts}
        return [] if rs == [want] else [f"base_hour: {rs} != {[want]}"]
    if name == "kql_take":
        bad = [r for r in rs if r.get("source") != "factory-base"
               or r.get("pointId") not in base["points"]]
        if len(rs) != 100 or bad:
            return [f"kql_take: {len(rs)} rows, {len(bad)} not from factory-base"]
        return []
    if name == "kql_by_project":
        got = {r["project"]: (r["n"], r["v"]) for r in rs}
        return [] if got == base["by_project"] else [f"kql_by_project: {got} != {base['by_project']}"]
    if name == "kql_by_hour":
        got = {r["timestamp"]: r["n"] for r in rs}
        want = {gen.DAY0_MS + h * gen.HOUR_MS: n for h, n in base["by_hour"].items()}
        return [] if got == want else [f"kql_by_hour: {got} != {want}"]
    return [f"unknown query {name}"]


# ---------------------------------------------------------------- oracle

def oracle(selfcheck, data_dir, results_dir, names):
    """Hash-compare each written result with its DuckDB oracle SQL by running
    the repo's own compare, `tools/selfcheck.py`, over the results directory
    (one directory per query plus `oracle_sql.json`). Returns (failures,
    rows returned per query)."""
    report = os.path.join(results_dir, "selfcheck.json")
    proc = subprocess.run([sys.executable, selfcheck, data_dir, results_dir, "--json", report],
                          capture_output=True, text=True)
    if not os.path.exists(report):
        return [f"selfcheck exited {proc.returncode} without a report: "
                f"{(proc.stdout + proc.stderr)[-400:]}"], {}
    with open(report) as fh:
        results = json.load(fh)["queries"]
    failures, returned = [], {}
    for name in names:
        r = results.get(name, {"status": "missing"})
        if r["status"] == "pass":
            returned[name] = r["rows"]
        else:
            failures.append(f"{name}: oracle compare {r['status']}: "
                            f"{r.get('reason', 'no hash match')}")
    return failures, returned
