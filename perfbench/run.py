#!/usr/bin/env python3
"""The repo benchmark: end-to-end and per-layer timings of the engine's
queries, with every answer checked before anything is reported.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Every workload, end to end:

    for w in tpch-10x curation; do python3 perfbench/run.py --workload $w --seed 1 --seconds 20 --trace 0; done

One run builds the engine and the harness when their sources changed
(`sbt compile`), prepares the workload's input, and starts one JVM on
`local[4]`. That JVM runs every query of the workload once (the check
pass, whose answers are checked), then times the number of passes over
the queries that the workload sets for `--seconds` (20 s of it are about
25 s of passes on a 4-core machine), each pass in its own seed-shuffled
order: one client, each query built, planned and written to Spark's
`noop` sink before the next.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The lines before it name each
metric with its unit, the output check, and the machine's contention.

Answers are checked against the query's DuckDB oracle SQL
(`graft.SparkEntry.oracleSql`), evaluated over the same input and
canonicalised as `tools/compare_local.py` does; a query without an
oracle counts as wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
BASE = os.path.join(HERE, "data", "sf0.01")
JARS = os.path.join(WORK, "jars")
ARCHIVE = os.path.join(JARS, "classes.jsa")
CORES = 4
DEADLINE_S = 170.0
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# name -> its timed queries (a regex over SparkEntry.queries), queries
# it checks once per run without timing them, its input, its timed passes
# in a 20-second run, and the kernel arms of its traced run. The pass
# counts put each run's tail percentile inside one query's latencies
# rather than on the edge between two, where it would jump run to run.
WORKLOADS = {
    "tpch-10x": dict(
        pattern=r"q(1|3|5|6|12|14|18|19)_.*", input="tpch10x", passes=6,
        kernel="decimal:lineitem:l_extendedprice", q1check=True),
    "curation": dict(
        pattern=r"doc_(minhash_pairs|substring_dups|jaccard_pairs|containment_pairs|token_ids"
                r"|dedup_exact|quality)|corpus_build|stream_dedup",
        check_only=r"embed_centroids|graph_pagerank",
        input="base", passes=4, kernel="text:documents:text"),
}
KERNELS = {"decimal": ["fast_decimal", "cast_decimal"], "text": ["minhash", "tokenize"]}
STREAMING = ["triggers", "add_batch_ms", "log_commit_ms", "state_commit_ms",
             "state_rows", "state_mem_bytes", "trigger_p50_ms", "trigger_tail_ms",
             "events_per_s"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def tree_files(*rels):
    for rel in rels:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            yield rel
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.relpath(os.path.join(d, f), ROOT)


def source_stamp():
    h = hashlib.sha256()
    for rel in tree_files("build.sbt", "project/build.properties", "src/main",
                          "perfbench/build.sbt", "perfbench/project/build.properties",
                          "perfbench/src"):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_logged(cmd, cwd, logname, timeout):
    with open(os.path.join(WORK, logname), "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1


def build():
    """Compiles the engine, then the harness, when their sources changed;
    packs both into jars and records a class-data-sharing archive of a
    training run, so each run's JVM loads its classes from the archive."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(JARS, ignore_errors=True)
    os.makedirs(JARS)
    for cwd, name in ((ROOT, "engine"), (HERE, "harness")):
        t0 = time.time()
        rc = run_logged(["sbt", "-batch", "compile"], cwd, f"build-{name}.log", 800)
        classes = os.path.join(cwd, "target", "scala-2.13", "classes")
        if rc == 0:
            rc = run_logged(["jar", "cf", os.path.join(JARS, f"{name}.jar"), "-C", classes, "."],
                            ROOT, f"jar-{name}.log", 120)
        if rc != 0:
            fail(f"{name} build failed (rc {rc}); see .perfbench/build-{name}.log", 3)
        log(f"perfbench: built {name} in {time.time() - t0:.1f} s")
    t0 = time.time()
    pattern = "q1_pricing_summary|q5_local_supplier_volume|doc_minhash_pairs|doc_substring_dups" \
              "|stream_dedup"
    rc = run_logged(java_cmd(f"-XX:ArchiveClassesAtExit={ARCHIVE}", "--mode", "run",
                             "--input", BASE, "--pattern", pattern, "--check-only", "$^",
                             "--seed", "0", "--passes", "0", "--trace", "0",
                             "--kernel", "none", "--q1check", "0",
                             "--dump", os.path.join(WORK, "train"),
                             "--spans", os.path.join(WORK, "train-spans.json"),
                             "--out", os.path.join(WORK, "train.json")),
                    ROOT, "train.log", 800)
    if rc != 0 or not os.path.exists(ARCHIVE):
        fail(f"training run failed (rc {rc}); see .perfbench/train.log", 3)
    log(f"perfbench: recorded the class archive in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- JVM

def java_cmd(*args):
    """The harness JVM; leading `-X` arguments are JVM options."""
    jvm = [x for x in args if x.startswith("-X")]
    args = [x for x in args if not x.startswith("-X")]
    if not jvm and os.path.exists(ARCHIVE):
        jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([os.path.join(JARS, "harness.jar"), os.path.join(JARS, "engine.jar"),
                          os.path.join(SPARK_HOME, "jars", "*")])
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + jvm + opens + ["-cp", cp, "perfbench.Harness", "--cores", str(CORES),
                             "--work", WORK] + args)


def harness(logname, deadline, *args):
    """Runs the harness JVM; returns its JSON result, or exits on failure."""
    out = os.path.join(WORK, f"{logname}.json")
    if os.path.exists(out):
        os.remove(out)
    left = deadline - time.time()
    if left <= 5:
        fail("no time left for the harness")
    rc = run_logged(java_cmd(*args, "--out", out), ROOT, f"{logname}.log", left)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (rc {rc}); see .perfbench/{logname}.log", 4)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- inputs

def fingerprint(d):
    h = hashlib.sha256()
    for rel in tree_files(os.path.relpath(d, ROOT)):
        if rel.endswith(".parquet"):
            h.update(os.path.relpath(os.path.join(ROOT, rel), d).encode())
            with open(os.path.join(ROOT, rel), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def prepare_input(kind, deadline):
    """The workload's input dir. The 10x copy is built once per checkout."""
    if kind == "base":
        return BASE
    dst = os.path.join(WORK, "inputs", "tpch10x")
    marker = os.path.join(dst, "_GENERATED.json")
    if not os.path.exists(marker):
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        res = harness("make10x", deadline, "--mode", "make10x", "--input", BASE, "--dst", tmp)
        with open(os.path.join(tmp, "_GENERATED.json"), "w") as f:
            json.dump(res, f)
        os.rename(tmp, dst)
    return dst


# ---------------------------------------------------------------- check

def check(dump, input_dir, names, ran):
    """Checks each answer of the check pass. Returns {query: status}, where
    status is "pass", "wrong: ..." or "error: ..." (the query threw), and
    each answer's row count and digest."""
    import duckdb
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    # Oracle answers are cached per input and per canonicalisation rule.
    with open(stats.CANON, "rb") as f:
        rule = hashlib.sha256(f.read()).hexdigest()[:16]
    cache_dir = os.path.join(WORK, "oracle", f"{fingerprint(input_dir)}-{rule}")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET threads={CORES}")
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
    status, answers = {}, {}
    for n in names:
        if not ran[n]["ok"]:
            status[n] = "error: " + ran[n].get("error", "")
            continue
        got = stats.answer(con.sql(f"SELECT * FROM '{dump}/{n}/*.parquet'"))
        answers[n] = got
        if n not in oracle:
            status[n] = "wrong: no oracle"
            continue
        key = os.path.join(cache_dir, hashlib.sha256(oracle[n].encode()).hexdigest() + ".json")
        if os.path.exists(key):
            with open(key) as f:
                want = json.load(f)
        else:
            want = stats.answer(con.sql(oracle[n]))
            with open(key, "w") as f:
                json.dump(want, f)
        if want != got:
            status[n] = f"wrong: {got['rows']} rows, digest {got['digest'][:12]}; " \
                        f"expected {want['rows']} rows, digest {want['digest'][:12]}"
        else:
            status[n] = "pass"
    return status, answers


# ---------------------------------------------------------------- host

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]  # total (without guest time), steal


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [v for p in passes for v in p["lat"].values()]
    per_query = {}
    for p in passes:
        for n, v in p["lat"].items():
            per_query.setdefault(n, []).append(v)
    pct = stats.tail_pct(len(lat)) or 50
    return {
        "setup_s": res["setup_s"],
        "pass_s": med([p["wall_s"] for p in passes]),
        "cpu_s": med([p["cpu_s"] for p in passes]),
        # each query's median latency, then their median across queries
        "query_p50_s": med([med(v) for v in per_query.values()]),
        "query_tail_s": stats.percentile(lat, pct),
        "peak_rss_mb": res["peak_rss_mb"],
    }, pct, len(lat)


def per_layer(res, spec, rows_out, host):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    keys = sorted(k for k in traced[0]["layers"] if k != "triggers")
    m = {k: statistics.fmean(p["layers"][k] for p in traced) for k in keys}
    trig = [t for p in traced for t in p["layers"]["triggers"]]
    col = lambda i: [t[i] for t in trig]  # noqa: E731
    trig_s = sum(col(0)) / 1e3
    tail = stats.tail_pct(len(trig))
    m.update({
        "streaming.triggers": len(trig) / len(traced),
        "streaming.add_batch_ms": med(col(1)),
        "streaming.log_commit_ms": med(col(2)),
        "streaming.state_commit_ms": med(col(3)),
        "streaming.state_rows": med(col(4)),
        "streaming.state_mem_bytes": med(col(5)),
        "streaming.trigger_p50_ms": med(col(0)),
        "streaming.trigger_tail_ms": stats.percentile(col(0), tail) if tail else 0.0,
        "streaming.events_per_s": sum(col(6)) / trig_s if trig_s else 0.0,
    })
    m["sources.rows_in_per_row_out"] = m["sources.input_rows"] / max(1, rows_out)
    m["sources.datagen_s"] = res["datagen_s"] or 0.0
    kern = res.get("kernels") or {}
    for arm in sum(KERNELS.values(), []):
        m[f"plans.kernel.{arm}_ns_row"] = kern.get(f"{arm}_ns_row", 0.0)
    pass_plain = med([p["wall_s"] for p in plain])
    m["trace.overhead_frac"] = med([p["wall_s"] for p in traced]) / pass_plain - 1.0
    m["host.loadavg"] = host["loadavg"]
    m["host.steal_frac"] = host["steal_frac"]
    m["host.cpu_per_wall"] = med([p["cpu_s"] for p in plain]) / pass_plain
    kinds = spec["kernel"].split(":")[0]
    na = [f"plans.kernel.{a}_ns_row" for k, arms in KERNELS.items() if k != kinds for a in arms]
    if not trig:
        na += [f"streaming.{s}" for s in STREAMING]
    elif not tail:
        na.append("streaming.trigger_tail_ms (fewer than 20 triggers)")
    if res["datagen_s"] is None:
        na.append("sources.datagen_s (the workload reads its input as committed)")
    return m, tail, na


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_file()
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of an engine checkout")
    spec = WORKLOADS[a.workload]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    build()  # before the deadline starts: the first run of a checkout builds
    deadline = time.time() + DEADLINE_S

    input_dir = prepare_input(spec["input"], deadline)
    dump = os.path.join(WORK, "results", a.workload)
    shutil.rmtree(dump, ignore_errors=True)
    load0, (tot0, steal0) = loadavg(), cpu_jiffies()
    t_start = time.time()
    # A fixed pass count per --seconds, so a run's sample count, and the
    # percentile its tail reports, do not depend on the machine's speed.
    passes = max(1, round(spec["passes"] * a.seconds / 20))
    res = harness(f"run-{a.workload}", deadline, "--mode", "run", "--input", input_dir,
                  "--pattern", spec["pattern"], "--check-only", spec.get("check_only", "$^"),
                  "--seed", str(a.seed),
                  "--passes", str(passes), "--trace", str(a.trace),
                  "--dump", dump, "--kernel", spec["kernel"] if a.trace else "none",
                  "--q1check", "1" if spec.get("q1check") else "0",
                  *(["--datagen", BASE] if a.trace and spec["input"] == "tpch10x" else []),
                  "--spans", os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json"))
    load1, (tot1, steal1) = loadavg(), cpu_jiffies()
    t_jvm = time.time()
    host = {"loadavg": (load0 + load1) / 2,
            "steal_frac": (steal1 - steal0) / max(1, tot1 - tot0)}

    names = res["queries"]
    checked = names + res["check_only"]
    status, answers = check(dump, input_dir, checked, res["check"])
    log(f"perfbench: harness JVM {t_jvm - t_start:.1f} s, output check {time.time() - t_jvm:.1f} s")
    bad = {n for n, s in status.items() if s != "pass"}
    wrong = {n for n, s in status.items() if s.startswith("wrong")}
    attempted = len(checked) + sum(len(p["lat"]) + len(p["failed"]) for p in res["passes"])
    failed = len(bad) + sum(
        len(p["failed"]) + sum(1 for n in p["lat"] if n in bad) for p in res["passes"])
    q1 = res.get("q1_plan")
    kern = res.get("kernels") or {}
    q1_ok = q1["ok"] if spec.get("q1check") else True
    correct = not wrong and q1_ok and kern.get("mismatches", 0) == 0

    e2e, pct, samples = end_to_end(res)
    plain = [p for p in res["passes"] if not p["traced"]]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {len(names)} queries, "
          f"{len(res['passes'])} timed passes, {samples} latency samples, "
          f"query_tail_s = p{pct:g}")
    print(f"check: {len(checked) - len(bad)}/{len(checked)} answers pass"
          + (f" ({', '.join(res['check_only'])} checked, not timed)" if res["check_only"] else "")
          + "".join(f"\n  {n}: {status[n]}" for n in sorted(bad)))
    if spec.get("q1check"):
        print(f"check: q1's plan in {q1['passes']} timed passes evaluates {q1['timed']} of "
              f"{q1['required']} aggregates, fast_decimal={q1['fast_decimal']}: "
              f"{'ok' if q1_ok else 'FAIL'}")
    if kern:
        print(f"check: kernel arms disagree on {kern['mismatches']} of {kern['rows']} rows")
    print(f"contention: loadavg {load0:.2f} -> {load1:.2f}, steal {host['steal_frac']:.4f}, "
          f"cpu_s/pass_s {e2e['cpu_s'] / e2e['pass_s']:.2f} (of {CORES} cores)")
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted})")
    declared = {m["name"]: m["unit"] for m in spec_file()["per_layer" if a.trace else "end_to_end"]}
    if a.trace:
        rows_out = sum(answers[n]["rows"] for n in names if n in answers)
        metrics, tail, na = per_layer(res, spec, rows_out, host)
        if tail:
            print(f"streaming.trigger_tail_ms = p{tail:g}")
        print("not applicable to this workload (reported as 0): " + (", ".join(na) or "none"))
    else:
        metrics = e2e
    missing = sorted(set(declared) - set(metrics))
    if missing:
        fail(f"declared metrics not measured: {', '.join(missing)}", 5)
    out = {k: {"value": metrics[k], "unit": u} for k, u in declared.items()}
    for k, v in out.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def spec_file():
    """BENCHMARK.json at the checkout root: the metric names and units."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
