#!/usr/bin/env python3
"""Benchmark of the graft ingest engine, its query layers and its streams.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Builds the program from source (cached by a hash of the sources), makes a
deterministic synthetic corpus, runs one workload in one JVM (perfbench/src)
and checks its outputs here, outside the timed region, with DuckDB and
pyarrow rather than with the program's own checks. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones (see perfbench/METRICS.md).

Everything the run writes lives under .bench_work/ (removed at exit) and
the build directory ($CARGO_TARGET_DIR, default .bench_build/). A run that
leaves new entries in /tmp fails its check.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Corpus size per workload, as a multiple of the sf0.1-shaped corpus
# (600 000 lineitem rows at 1.0); see METRICS.md for why.
SCALE = {"ingest": 0.1, "query_mix": 0.1}
# Fewest timed rounds per run, whatever --seconds says: an ingest round takes
# about 8 s and a query pass about 4 s on a quiet 4-core host.
MIN_ROUNDS = {"ingest": 3, "query_mix": 5}
STREAM_FILES = 2
WORKLOADS = sorted(SCALE)
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build and inputs
# ---------------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    files += glob.glob(os.path.join(HERE, "src", "*.scala"))
    for d, _, fs in os.walk("src/main"):
        files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    out = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    digest = source_hash()
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    log("building the program and the benchmark")
    t = time.time()
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], check=True,
                   stdout=sys.stderr, env=dict(os.environ, SPARK_HOME=spark_home()))
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    return out


def corpus(build_dir, scale):
    out = os.path.join(build_dir, f"corpus-{scale}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"), out,
                        str(scale)], check=True)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def split_events(src, out, seed, files):
    """The events table split into `files` parquet files, each cut point a
    seeded draw within a fifth of a file of the even split; written oldest
    first so the file source reads them in order. Returns the event count."""
    import numpy as np
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(src, "events.parquet"))
    n = table.num_rows
    rng = np.random.Generator(np.random.PCG64(seed))
    step = n / files
    cuts = [0] + [int(i * step + rng.uniform(-0.2, 0.2) * step) for i in range(1, files)] + [n]
    os.makedirs(out)
    for i in range(files):
        path = os.path.join(out, f"events-{i:03d}.parquet")
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return n


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def table_digest(con, pattern, cols):
    """Row count and order-insensitive digest of the payload columns."""
    vals = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in sorted(c.lower() for c in cols))
    n, h = con.execute(f"SELECT count(*), sum(hash({vals})::HUGEINT) "
                       f"FROM read_parquet('{pattern}')").fetchone()
    return int(n), str(h)


def check_sinks(rounds, src_dir, work):
    """Failure reasons per round for the ingest sinks: a TableResult that
    is skipped, carries an error or reports !ok, a source count that is
    not the snapshot's, or a sink whose rows differ from the source."""
    import duckdb
    con = duckdb.connect()
    expected = {}
    fails = []
    for r in rounds:
        bad = []
        for s in r["sinks"]:
            t = s["table"]
            if t not in expected:
                path = os.path.join(src_dir, f"{t}.parquet")
                cols = [c[0] for c in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
                expected[t] = (cols, table_digest(con, path, cols))
            cols, (rows, dig) = expected[t]
            if s["skipped"]:
                bad.append(f"{t}: skipped")
            elif s["error"] is not None:
                bad.append(f"{t}: error {s['error']}")
            elif not s["ok"]:
                bad.append(f"{t}: report not ok")
            elif s["source_count"] != rows:
                bad.append(f"{t}: source count {s['source_count']} != {rows}")
            else:
                got = table_digest(con, os.path.join(s["dir"], "**", "*.parquet"), cols)
                if got != (rows, dig):
                    bad.append(f"{t}: sink {got} != source {(rows, dig)}")
        shutil.rmtree(os.path.join(work, f"wh-{r['tag']}"), ignore_errors=True)
        fails.append(bad)
    return fails


def canon(v):
    """Exact, side-independent string for one cell value (the
    canonicalization tools/check_oracle.py applies)."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "0" if s == "-0" else s
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def output_digest(out_dir):
    """Row count and sha256 of the sorted canonical rows of one query
    output (columns in lower-cased name order), or None if it is missing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    tbl = pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")
    cols = sorted(tbl.column_names, key=str.lower)
    rows = sorted("\t".join(canon(r[c]) for c in cols) for r in tbl.select(cols).to_pylist())
    h = hashlib.sha256(("\t".join(c.lower() for c in cols) + "\n" + "\n".join(rows)).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def spark_home():
    """$SPARK_HOME, else the first Spark distribution (a bin/ with a
    sibling jars/) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("perfbench: set SPARK_HOME to a Spark distribution")


def java_cmd(classes, work, opts):
    jars = os.path.join(spark_home(), "jars")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-Dspark.callstack.depth=64"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([os.path.join(classes, "bench"), os.path.join(classes, "program"),
                             os.path.join(jars, "*")]), "perfbench.Main"]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def run_jvm(cmd, work):
    with open(os.path.join(work, "jvm.log"), "w") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"the benchmark JVM did not finish in {JVM_TIMEOUT_S} s")
    with open(os.path.join(work, "jvm.log")) as f:
        tail = [l for l in f.read().splitlines() if "[perfbench]" in l or "Exception" in l]
    sys.stderr.write("\n".join(tail[-60:]) + "\n")
    if p.returncode != 0:
        raise RuntimeError(f"the benchmark JVM exited with {p.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from the repository root (no src/main/scala here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    bench_build = os.path.join(build_dir, "perfbench")
    os.makedirs(bench_build, exist_ok=True)
    classes = build(bench_build)
    src = corpus(bench_build, SCALE[a.workload])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    tmp_before = set(os.listdir("/tmp"))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        opts = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "min-rounds": MIN_ROUNDS[a.workload], "corpus": src,
                "work": work, "t0": int(t0 * 1000)}
        if a.workload == "ingest":
            opts["stream-input"] = os.path.join(work, "stream-in")
            opts["events"] = split_events(src, opts["stream-input"], a.seed, STREAM_FILES)
        else:
            opts["queries"] = ",".join(expected["query_mix"]["queries"])
        res = run_jvm(java_cmd(classes, work, opts), work)

        rounds, warm = res["rounds"], res["warm"]
        attempted = sum(r["attempted"] for r in rounds + warm)
        failed = sum(r["failed"] for r in rounds + warm)
        if a.workload == "ingest":
            # verified items: sink rows that passed the check plus the
            # events the stream read (the JVM counts those)
            fails = check_sinks(warm + rounds, src, work)
            for r, bad in zip(warm + rounds, fails):
                for b in bad:
                    log(f"check failed in round {r['tag']}: {b}")
                failed += len(bad)
                r["items"] = 0 if bad or r["failed"] else (
                    r["items"] + sum(s["source_count"] for s in r["sinks"]))
        else:
            got = {q: output_digest(os.path.join(work, "query-out", q))
                   for q in expected["query_mix"]["queries"]}
            for q, d in got.items():
                attempted += 1
                if d != expected["query_mix"]["digests"].get(q):
                    log(f"check failed: {q} output {d} != expected "
                        f"{expected['query_mix']['digests'].get(q)}")
                    failed += 1

        if a.trace == 0:
            walls = [r["wall"] for r in rounds]
            steps = [s for r in rounds for _, s in r["steps"] if s > 0]
            values = {
                "setup_s": res["setup_s"],
                "round_s": statistics.median(walls),
                "step_geomean_s": geomean(steps),
                "items_per_s": statistics.median(r["items"] / r["wall"] for r in rounds),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        else:
            got = res.get("layers", {})
            metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            # the traced run's own checks (perfbench/src/Layers.scala): layer
            # sums, exact counts and the layer rules
            failed += len(res.get("problems", []))
            for k in sorted(got):
                log(f"layer {k} = {got[k]}")
    finally:
        shutil.rmtree(os.path.join(ROOT, ".bench_work"), ignore_errors=True)
    leaked = sorted(set(os.listdir("/tmp")) - tmp_before)
    if leaked:
        log(f"new entries in /tmp: {leaked[:20]}")
        failed += 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
