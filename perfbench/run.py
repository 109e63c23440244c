#!/usr/bin/env python3
"""End-to-end benchmark of the ingest gateway and the heavy operators.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side into `.bench_build/` (see `perfbench/build.sh`). Each
run starts one fresh JVM on a fresh warehouse and drives it from this
process: over HTTP through `GatewaySocket` for `ingest_80k` and
`ledger_mixed`, and through `SparkEntry.queries` for `operators_sf001`.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the workload
twice, without and with the tracing hooks, and prints the per-layer metrics
and the tracing overhead. Human-readable lines come first; the last line
of stdout is one JSON object. A failed output check makes the exit code 1.
"""
import argparse
import functools
import hashlib
import http.client
import json
import math
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HEAP = "4g"
CORES = 4  # the program runs on local[CORES]
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
SELFCHECK = os.path.join(ROOT, "tools", "selfcheck.py")

INGEST_ROWS = 80_000
BASE_ENVELOPES, BASE_ROWS = 8, 20_000
LIVE_ROWS = 1_000
LIVE_RATE = QUERY_RATE = 2.0  # requests per second, each stream
WARM_LOOP_S = 8  # untimed open loop before the timed window; latencies still fall after 3 s
# one query per ops module, by name -> module. q_unigram_train is the serial
# unigram hot spot of ROADMAP item 2; q_semdedup runs the k-means training
# core that ROADMAP item 4 folds the ANN variants into
OPERATOR_QUERIES = {
    "q_curation_pipeline": "Curation", "q_media_png": "Multimodal",
    "q_semdedup": "Vectors", "q_tpch_q18": "Relational",
    "q_tumbling_window": "TimeWindows", "q_unigram_train": "Text"}
WORKLOADS = ("ingest_80k", "ledger_mixed", "operators_sf001")

# metric name -> unit, as printed; BENCHMARK.json names the same set
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "heap_live_mb": "MB"}


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


@functools.lru_cache(maxsize=None)
def spark_jars():
    """$SPARK_JARS, else the jar directory build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'^unmanagedBase := file\("([^"]+)"\)', fh.read(), re.M)
    if m is None:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    stamp = os.path.join(BUILD, "classes.sha256")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), CLASSES],
                             stdout=fh, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_JARS=spark_jars()))
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: build failed (see {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)


# -------------------------------------------------------------------- JVM

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Jvm:
    """The program's process: started, spoken to over stdin/stdout, stopped."""

    def __init__(self, run_dir, args):
        self.phases = []
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + JAVA_OPENS + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}/*", "perfbench.Main"] + args)
        self.log = open(os.path.join(run_dir, "jvm.log"), "w")
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, bufsize=1)

    def phase(self, label):
        """Note how far into the set-up a step ended (for the report)."""
        self.phases.append((label, round(time.perf_counter() - self.started, 2)))

    def expect(self, prefix):
        """Next protocol line; its text after `PB <prefix>`."""
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"program exited (code {self.proc.wait()}) "
                                   f"before '{prefix}'; see {self.log.name}")
            if line.startswith("PB "):
                msg = line[3:].rstrip("\n")
                if msg.startswith("error"):
                    raise RuntimeError(msg)
                if msg.startswith(prefix):
                    return msg[len(prefix):].strip()

    def command(self, text):
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        return self.expect("ok")

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
            except OSError:
                pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


class Client:
    """One HTTP connection of the load generator."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def request(self, method, path, body=None):
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                self.conn.request(method, path, body=body,
                                  headers={"Content-Type": "application/json"})
                resp = self.conn.getresponse()
                return resp.status, resp.read().decode()
            except (http.client.HTTPException, ConnectionError):
                self.conn.close()
                self.conn = None
                if attempt:
                    raise

    def close(self):
        if self.conn is not None:
            self.conn.close()


class Log:
    """Timed requests of one run (perf_counter seconds)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.items = []
        self.errors = []
        self.attempted = 0
        self.rid = 0

    def next_rid(self, kind):
        """Id of a new request; every request counts as attempted."""
        with self.lock:
            self.rid += 1
            self.attempted += 1
            return f"{kind}-{self.rid}"

    def check(self, msgs):
        """An output check that is not tied to one request."""
        with self.lock:
            self.attempted += 1
        self.fail(msgs)

    def add(self, **item):
        with self.lock:
            self.items.append(item)

    def fail(self, msgs):
        if msgs:
            with self.lock:
                self.errors.extend(msgs)


def post_envelope(client, log, env, due=None, timed=True):
    rid = log.next_rid("ingest")
    send = time.perf_counter()
    try:
        status, body = client.request("POST", f"/?rid={rid}", env.body)
    except Exception as e:  # noqa: BLE001 - an exception is a failed request
        status, body = -1, repr(e)
    done = time.perf_counter()
    errs = checks.echo(env, status, body)
    log.fail(errs)
    if timed:
        log.add(kind="ingest", rid=rid, env=env, due=send if due is None else due,
                send=send, done=done, ok=not errs)
    return not errs


def run_query(client, log, name, body, due=None, timed=True):
    rid = log.next_rid("query")
    send = time.perf_counter()
    try:
        status, reply = client.request("POST", f"/query?rid={rid}", body)
    except Exception as e:  # noqa: BLE001
        status, reply = -1, repr(e)
    done = time.perf_counter()
    item = dict(kind="query", rid=rid, name=name, due=send if due is None else due,
                send=send, done=done, status=status, reply=reply)
    if timed:
        log.add(**item)
    return item


def parallel(fns):
    threads = [threading.Thread(target=f) for f in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def warehouse_size(wh):
    files = size = 0
    for d, _, names in os.walk(wh):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def post_all(port, log, envs, clients=2):
    """POST envelopes untimed over `clients` connections, in order."""
    queue = list(envs)
    lock = threading.Lock()

    def worker():
        c = Client(port)
        while True:
            with lock:
                if not queue:
                    break
                env = queue.pop(0)
            post_envelope(c, log, env, timed=False)
        c.close()
    parallel([worker] * clients)


def finish_served(jvm, port, log, close_env, max_ts, expected_rows, run, trace, kql_bodies=()):
    """Untimed tail of a served run: a closing envelope, the registers and
    the ledger count; then the KQL translation probe when traced."""
    c = Client(port)
    post_envelope(c, log, close_env, timed=False)
    status, body = c.request("GET", "/")
    log.check(checks.registers("GET /", body, close_env.time_generated,
                               max(max_ts, close_env.max_ts)))
    q = run_query(c, log, "ledger_count",
                  f"SELECT count(*) AS n FROM parquet.`{run['warehouse']}`", timed=False)
    log.fail(checks.ledger_count("ledger_count", q["reply"], expected_rows + close_env.rows))
    c.close()
    if trace:
        run["kql_ms"] = [float(jvm.command("kql " + b)) for b in kql_bodies for _ in range(3)]


# -------------------------------------------------------------- workloads

def ingest_80k(seed, seconds, trace, run):
    # distinct envelopes for 2.5 POST/s, three times what two clients do
    # today, so a faster ingest does not run the queue dry before the deadline
    warm = gen.envelopes(seed, "warm", 3, INGEST_ROWS, "factory-warm")
    main = gen.envelopes(seed, "main", math.ceil(seconds / 0.4) + 3, INGEST_ROWS, "factory-a")
    close = gen.envelope(seed, "close", 0, LIVE_ROWS, "factory-close", 0)
    log = Log()
    jvm = Jvm(run["dir"], ["serve", str(CORES), run["warehouse"], str(int(trace)), run["dir"]])
    try:
        port = int(jvm.expect("ready"))
        jvm.phase("ready")
        post_all(port, log, warm[:1], clients=1)
        jvm.phase("first_post")
        post_all(port, log, warm[1:], clients=2)
        run["files0"], run["bytes0"] = warehouse_size(run["warehouse"])
        jvm.command("mark start")
        t0 = time.perf_counter()
        run["setup_s"] = t0 - jvm.started
        run["phases"] = jvm.phases
        deadline = t0 + seconds
        queue = list(main)
        lock = threading.Lock()

        def client():
            c = Client(port)
            while time.perf_counter() < deadline:
                with lock:
                    if not queue:
                        break
                    env = queue.pop(0)
                post_envelope(c, log, env)
            c.close()
        parallel([client, client])
        run["window_s"] = time.perf_counter() - t0
        jvm.command("mark end")
        run["files1"], run["bytes1"] = warehouse_size(run["warehouse"])
        sent = [i["env"] for i in log.items]
        acked = [i["env"] for i in log.items if i["ok"]]
        finish_served(jvm, port, log, close, max(e.max_ts for e in warm + acked),
                      sum(e.rows for e in warm + acked), run, trace)
    finally:
        jvm.stop()
    run["log"] = log
    rows = sum(e.rows for e in acked)
    lat = [(i["done"] - i["send"]) * 1e3 for i in log.items]
    run["ops"] = len(log.items)
    run["op_p50_ms"] = stats.median(lat)
    run["report"] = {
        "ingest_rows_per_s": (rows / run["window_s"], "rows/s", len(sent)),
        "ingest_p50_ms": (stats.median(lat), "ms", len(lat)),
        "stored_bytes_per_row": ((run["bytes1"] - run["bytes0"]) / max(rows, 1), "B/row", len(acked)),
    }
    run["p90"] = {}
    return run


def open_loop(port, log, envs, mix, seconds, timed):
    """Two open-loop streams for `seconds`: `envs` POSTed at LIVE_RATE and the
    query mix at QUERY_RATE, two connections each. A timed request is timed
    from the moment it was due."""
    t0 = time.perf_counter()
    schedules = {
        "ingest": [(t0 + i / LIVE_RATE, envs[i]) for i in range(math.ceil(LIVE_RATE * seconds))],
        "query": [(t0 + 0.5 / QUERY_RATE + i / QUERY_RATE, mix[i % len(mix)])
                  for i in range(math.ceil(QUERY_RATE * seconds))],
    }
    locks = {k: threading.Lock() for k in schedules}

    def worker(stream):
        def loop():
            c = Client(port)
            while True:
                with locks[stream]:
                    if not schedules[stream]:
                        break
                    due, item = schedules[stream].pop(0)
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                if stream == "ingest":
                    post_envelope(c, log, item, due=due, timed=timed)
                else:
                    run_query(c, log, item[0], item[1], due=due, timed=timed)
            c.close()
        return loop
    parallel([worker("ingest"), worker("ingest"), worker("query"), worker("query")])


def ledger_mixed(seed, seconds, trace, run):
    base = gen.envelopes(seed, "base", BASE_ENVELOPES, BASE_ROWS, "factory-base", keep_points=True)
    n_live = math.ceil(LIVE_RATE * seconds)
    live = gen.envelopes(seed, "live", n_live, LIVE_ROWS, "factory-live")
    warm = gen.envelopes(seed, "warm", math.ceil(LIVE_RATE * WARM_LOOP_S), LIVE_ROWS,
                         "factory-warm")
    close = gen.envelope(seed, "close", 0, LIVE_ROWS, "factory-close", 0)
    base_hour = seed % BASE_ENVELOPES
    mix = gen.query_mix(base_hour)
    agg = gen.source_aggregates(base)
    agg["points"] = set().union(*(e.point_ids for e in base))
    base_rows = sum(e.rows for e in base)
    fixed_rows = base_rows + sum(e.rows for e in warm)
    log = Log()
    jvm = Jvm(run["dir"], ["serve", str(CORES), run["warehouse"], str(int(trace)), run["dir"]])
    try:
        port = int(jvm.expect("ready"))
        jvm.phase("ready")
        post_all(port, log, base, clients=4)
        jvm.phase("base")
        jvm.command("view")
        c = Client(port)
        for name, body in mix:
            q = run_query(c, log, name, body, timed=False)
            log.fail(checks.mix_answer(name, q["reply"], agg, base[base_hour],
                                       base_rows, base_rows))
        c.close()
        jvm.phase("warm_queries")
        open_loop(port, log, warm, mix, WARM_LOOP_S, timed=False)
        run["files0"], run["bytes0"] = warehouse_size(run["warehouse"])
        jvm.command("mark start")
        t0 = time.perf_counter()
        run["setup_s"] = t0 - jvm.started
        run["phases"] = jvm.phases
        open_loop(port, log, live, mix, seconds, timed=True)
        run["window_s"] = time.perf_counter() - t0
        jvm.command("mark end")
        run["files1"], run["bytes1"] = warehouse_size(run["warehouse"])
        ingests = [i for i in log.items if i["kind"] == "ingest"]
        queries = [i for i in log.items if i["kind"] == "query"]
        for q in queries:
            lo = fixed_rows + sum(i["env"].rows for i in ingests if i["ok"] and i["done"] < q["send"])
            hi = fixed_rows + sum(i["env"].rows for i in ingests if i["send"] < q["done"])
            if q["status"] != 200:
                log.fail([f"{q['name']}: status {q['status']}: {q['reply'][:200]}"])
                continue
            errs = checks.mix_answer(q["name"], q["reply"], agg, base[base_hour], lo, hi)
            log.fail(errs)
            q["rows_returned"] = 0 if errs else len(checks.rows(q["reply"]))
        acked = [i["env"] for i in ingests if i["ok"]]
        finish_served(jvm, port, log, close,
                      max(e.max_ts for e in base + warm + acked),
                      fixed_rows + sum(e.rows for e in acked), run, trace,
                      kql_bodies=[json.loads(b)["csl"] for n, b in mix if n.startswith("kql")])
    finally:
        jvm.stop()
    run["log"] = log
    ing = [(i["done"] - i["due"]) * 1e3 for i in ingests]
    qry = [(i["done"] - i["due"]) * 1e3 for i in queries]
    run["ops"] = len(log.items)
    # each stream moves it in proportion: a 25% slower stream moves it 12%
    run["op_p50_ms"] = math.sqrt(stats.median(ing) * stats.median(qry))
    run["late_ms"] = [(i["send"] - i["due"]) * 1e3 for i in log.items]
    rows = sum(e.rows for e in acked)
    run["report"] = {
        "ingest_p50_ms": (stats.median(ing), "ms", len(ing)),
        "query_p50_ms": (stats.median(qry), "ms", len(qry)),
        "stored_bytes_per_row": ((run["bytes1"] - run["bytes0"]) / max(rows, 1), "B/row", len(acked)),
    }
    run["p90"] = {"ingest_p90_ms": ing, "query_p90_ms": qry}
    return run


def operators_sf001(seed, seconds, trace, run):
    # the corpus is the fixed sf0.01 fixture; the seed does not change it
    log = Log()
    jvm = Jvm(run["dir"], ["operators", str(CORES), DATA_DIR, str(seconds), str(int(trace)),
                           run["dir"]]
              + sorted(OPERATOR_QUERIES))
    try:
        jvm.expect("ready")
        jvm.phase("ready")
        jvm.expect("timed")
        run["setup_s"] = time.perf_counter() - jvm.started
        run["phases"] = jvm.phases
        jvm.expect("passes done")
        # the oracle check overlaps the JVM's shutdown, not the timed passes
        failures, returned = checks.oracle(SELFCHECK, DATA_DIR,
                                           os.path.join(run["dir"], "results"),
                                           sorted(OPERATOR_QUERIES))
        jvm.expect("stopped")
    finally:
        jvm.stop()
    recs = layers.load(run["dir"])
    passes = {}
    for r in recs:
        if r["kind"] == "query":
            passes.setdefault(r["pass"], []).append((r["end"] - r["start"]) / 1e3)
    run["pass_ms"] = [sum(v) for _, v in sorted(passes.items())]
    run["window_s"] = sum(run["pass_ms"]) / 1e3
    log.attempted += len(OPERATOR_QUERIES)
    log.fail(failures)
    run["rows_returned"] = sum(returned.values())
    run["log"] = log
    run["ops"] = len(run["pass_ms"])
    run["op_p50_ms"] = stats.median(run["pass_ms"])
    run["report"] = {"batch_s": (stats.median(run["pass_ms"]) / 1e3, "s", len(run["pass_ms"]))}
    run["p90"] = {}
    return run


# ------------------------------------------------------------------ report

def heap_mb(recs):
    """(highest heap in use after a collection in the timed window, heap in
    use right after the full collection that closes the window)."""
    w0, w1 = layers.window(recs)
    used = [r["used_after"] for r in recs if r["kind"] == "gc" and w0 <= r["time"] <= w1]
    end = next(r for r in recs if r["kind"] == "mark" and r["label"] == "end")
    live = end["heap_used"] / 2**20
    return max(used + [end["heap_used"]]) / 2**20, live


def run_once(workload, seed, seconds, trace):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run = {"dir": run_dir, "warehouse": os.path.join(run_dir, "warehouse"),
           "started": time.perf_counter()}
    try:
        globals()[workload](seed, seconds, trace, run)
        run["records"] = layers.load(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    run["wall_s"] = time.perf_counter() - run["started"]
    return run


def e2e_metrics(run):
    return {
        "setup_s": run["setup_s"],
        "op_p50_ms": run["op_p50_ms"],
        "heap_live_mb": heap_mb(run["records"])[1],
    }


def context(seed):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    if commit == "unknown":
        commit = "sources-" + source_digest()[:12]
    spark = next((f[len("spark-core_2.13-"):-4] for f in sorted(os.listdir(spark_jars()))
                  if f.startswith("spark-core_2.13-")), "unknown")
    return {"seed": seed, "commit": commit, "nproc": os.cpu_count(),
            "loadavg_before": os.getloadavg(), "heap": HEAP, "spark": spark,
            "local_cores": CORES, "python": platform.python_version()}


def main(argv=None):
    # a terminated run still stops its JVM (the `finally` of each workload)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    build()
    ctx = context(a.seed)
    run = run_once(a.workload, a.seed, a.seconds, False)
    traced = run_once(a.workload, a.seed, a.seconds, True) if a.trace else None
    ctx["loadavg_after"] = os.getloadavg()
    errors = run["log"].errors + (traced["log"].errors if traced else [])
    attempted = run["log"].attempted + (traced["log"].attempted if traced else 0)
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# context " + json.dumps(ctx))
    print("# set-up steps, s after JVM start: " + json.dumps(run.get("phases", [])))
    print(f"# run wall time: {run['wall_s']:.1f} s")
    e2e = e2e_metrics(run)
    for name, unit in END_TO_END.items():
        print(f"{name} = {e2e[name]:.4f} {unit} (n={run['ops'] if name == 'op_p50_ms' else 1})")
    run["report"]["heap_peak_mb"] = (heap_mb(run["records"])[0], "MB", 1)
    for name, (value, unit, n) in run["report"].items():
        print(f"{name} = {value:.4f} {unit} (n={n})")
    for name, xs in run["p90"].items():
        v = stats.p90(xs)
        print(f"{name} = " + (f"{v:.4f} ms (n={len(xs)})" if v is not None else
                              f"n/a (n={len(xs)}: fewer than {stats.MIN_BEYOND} beyond p90)"))
    print(f"failed_ratio = {len(errors) / max(attempted, 1):.4f} ratio (n={attempted})")
    for msg in errors[:20]:
        print(f"CHECK FAILED: {msg}")
    if traced:
        metrics = layers.per_layer(traced, e2e_metrics(traced), e2e, OPERATOR_QUERIES, CORES)
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.4f} {unit}")
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    result = {"correct": not errors, "attempted": attempted, "failed": len(errors),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
