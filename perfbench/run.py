#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <extract_bulk|extract_resume|query_suite>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

It compiles the program (src/main/scala) together with the benchmark
(perfbench/src) into .bench_build/ (or $CARGO_TARGET_DIR) with the Scala
compiler that ships in Spark's jars, runs one workload in one JVM at
local[nproc], checks every output, and prints the metrics: one line per
metric, then, as the last line, one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import struct
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("extract_bulk", "extract_resume", "query_suite")
# every run ends within this many seconds, its set-up and checks included
RUN_LIMIT_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the program's
    build.sbt takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("cannot locate Spark's jars: set SPARK_HOME")
    return m.group(1)


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BenchError(f"no program sources at {program}")
    files = []
    for base in (program, os.path.join(BENCH, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(stop_at):
    """Compiles once per distinct source tree. Returns the class dir and
    whether this call compiled it."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "classes-" + stamp)
    if os.path.isfile(os.path.join(out, "BUILT")):
        return out, False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = run_child(cmd, stop_at, os.path.join(build_dir(), "compile.log"))
    if r != 0:
        raise BenchError("compile failed, see " + os.path.join(build_dir(), "compile.log"))
    open(os.path.join(tmp, "BUILT"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, True


def run_child(cmd, stop_at, log):
    """Runs cmd with output to log; kills it and waits if it overruns."""
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, stop_at - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"timed out: {cmd[0]} ... (log: {log})")
        except BaseException:
            p.kill()
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def run_jvm(classes, main, args, work, stop_at):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC"] + opens +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main] + args)
    log = os.path.join(work, "jvm.log")
    r = run_child(cmd, stop_at, log)
    if r != 0:
        sys.stderr.write(tail(log))
        raise BenchError(f"{main} exited with {r}")


# ---------------------------------------------------------------- oracle

def _bits(x):
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _dec(d):
    return format(d.normalize(), "f")


def from_dump(v):
    """A value as QueryDump wrote it, in canonical form."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    tag, x = v
    if tag == "dec":
        return ("dec", _dec(decimal.Decimal(x)))
    if tag in ("list", "struct"):
        return (tag, tuple(from_dump(e) for e in x))
    if tag == "map":
        return ("map", tuple(sorted(((from_dump(k), from_dump(e)) for k, e in x), key=repr)))
    return (tag, x)


_EPOCH = datetime.datetime(1970, 1, 1)


def from_duck(v):
    """A value as DuckDB returned it, in the same canonical form."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return ("d", _bits(v))
    if isinstance(v, decimal.Decimal):
        return ("dec", _dec(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", (v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return ("date", (v - _EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bin", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(from_duck(e) for e in v))
    if isinstance(v, dict):
        return ("struct", tuple(from_duck(e) for e in v.values()))
    return str(v)


def canon(cols, rows, conv):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(conv(r[i]) for i in order)) for r in rows)


def oracle_check(tables_dir, dump_dir):
    """Compares every dumped query result with DuckDB running the
    query's oracle SQL on the same tables. Returns the failing queries
    and the number of queries checked."""
    import duckdb
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    failures = []
    for q, sql in sorted(oracle.items()):
        path = os.path.join(dump_dir, q + ".json")
        if not os.path.isfile(path):
            failures.append((q, "no result"))
            continue
        with open(path) as fh:
            got = json.load(fh)
        try:
            res = con.sql(sql)
            ecols = [d[0] for d in res.description]
            erows = res.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append((q, f"oracle error: {e}"))
            continue
        if sorted(got["columns"]) != sorted(ecols):
            failures.append((q, f"columns {sorted(got['columns'])} vs {sorted(ecols)}"))
        elif canon(got["columns"], got["rows"], from_dump) != canon(ecols, erows, from_duck):
            failures.append((q, f"values differ ({len(got['rows'])} vs {len(erows)} rows)"))
    return failures, len(oracle)


# ---------------------------------------------------------------- driver

def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run_workload(a):
    declared = declared_metrics(a.trace)
    t0 = time.time()
    classes, compiled = build(t0 + 700)
    stop_at = (time.time() if compiled else t0) + RUN_LIMIT_S
    work = os.path.join(build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(classes, "perfbench.Main",
                ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--out", out], work, stop_at)
        with open(out) as fh:
            res = json.load(fh)
        checks = res["report"]["checks"]
        if a.workload == "query_suite":
            fails, checked = oracle_check(os.path.join(work, "tables"),
                                          os.path.join(work, "query-results"))
            for q, why in fails:
                print(f"oracle mismatch: {q}: {why}", file=sys.stderr)
            checks["oracle_sql_equal"] = not fails
            res["report"]["oracle_queries_checked"] = checked
            if fails:
                res["correct"] = False
                res["failed"] = res["attempted"]
                res["report"]["failed_share"] = 1.0
        traces = glob.glob(os.path.join(work, "trace-*.json"))
        if traces:
            keep = os.path.join(build_dir(), "traces")
            os.makedirs(keep, exist_ok=True)
            for t in traces:
                shutil.copy(t, keep)
            res["report"]["trace_file"] = os.path.relpath(
                os.path.join(keep, os.path.basename(traces[0])), ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        raise BenchError(f"metrics differ from BENCHMARK.json: missing "
                         f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                         f"units {[(k, want[k], got[k]) for k in want if k in got and want[k] != got[k]]}")
    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    for k, v in res["report"].items():
        print(f"# {k}: {json.dumps(v) if not isinstance(v, str) else v}")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if res["correct"] else 1


def self_test():
    stop_at = time.time() + 900
    classes, _ = build(stop_at)
    work = os.path.join(build_dir(), "work", f"self-test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(classes, "perfbench.SelfTest", ["--work", work], work, stop_at)
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            print("".join(l for l in fh if l.startswith("ok: ")).strip())
        tables = os.path.join(work, "tables")
        dumps = os.path.join(work, "query-results")
        assert not oracle_check(tables, dumps)[0], "oracle check fails on a correct result"
        # corrupt one value of one dumped result: the check must catch it
        victim = os.path.join(dumps, "tpch_pricing.json")
        with open(victim) as fh:
            doc = json.load(fh)
        row = doc["rows"][0]
        i = next(i for i, v in enumerate(row) if isinstance(v, list) and v[0] == "d")
        row[i] = ["d", _bits(struct.unpack("<d", struct.pack("<q", row[i][1]))[0] + 1.0)]
        with open(victim, "w") as fh:
            json.dump(doc, fh)
        fails = oracle_check(tables, dumps)[0]
        assert [q for q, _ in fails] == ["tpch_pricing"], fails
        assert from_duck(1.0) != from_dump(1) and from_duck(1) == from_dump(1)
        assert from_duck(datetime.datetime(1970, 1, 1, 0, 0, 1)) == from_dump(["ts", 1000000])
        print("self-test: oracle comparison catches a corrupted result")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test passed")
    return 0


def main():
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    try:
        if a.self_test:
            return self_test()
        if not a.workload:
            p.error("--workload is required")
        return run_workload(a)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
