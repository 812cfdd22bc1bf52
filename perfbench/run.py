#!/usr/bin/env python3
"""graft benchmark: reindex, curated ingest and query workloads, measured
end to end and layer by layer.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with one `local[4]`
Spark session and one sequential client, checks every output outside the
timed region, prints each metric on its own line, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans are written under the build directory's `traces/`.

The query workloads read the corpus in $SPARK_GRAFT_SF_DIR (default:
~/testdata/sf0.1) and never write to it. Everything else a run writes
lives under the build directory ($CARGO_TARGET_DIR, default
.bench_build) and the run's scratch part of it is removed at exit.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import inputs

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
HARNESS = BENCH / "harness"
WORKLOADS = ["reindex", "queries", "ingest", "queries_lazy", "queries_eager"]
CORES = 4
HEAP = "3g"
# a run of a workload listed in BENCHMARK.json ends within 180 s; the
# full query mixes are run by hand and get longer
RUN_TIMEOUT_S = {"queries_eager": 600, "queries_lazy": 600}
DEFAULT_TIMEOUT_S = 165

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

E2E_UNITS = {
    "setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
    "latency_p90_s": "s", "heap_retained_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build compiles, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HARNESS / "src", ROOT / "build.sbt",
             ROOT / "project" / "build.properties", HARNESS / "build.sbt",
             HARNESS / "project" / "build.properties"]
    for r in roots:
        files = sorted(r.rglob("*")) if r.is_dir() else [r]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build(out):
    for need in [ROOT / "build.sbt", ROOT / "src" / "main" / "scala", HARNESS / "build.sbt"]:
        if not need.exists():
            fail(f"{need.relative_to(ROOT) if need.is_relative_to(ROOT) else need} is missing: "
                 "run from the root of a graft checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file = out / "classpath.txt"
    stamp_file = out / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = out / "build.log"
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "writeClasspath"],
                     log, 780, cwd=HARNESS, env=env)
    cp = HARNESS / "target" / "classpath.txt"
    if code != 0 or not cp.exists():
        tail = log.read_text().splitlines()[-20:]
        fail("build failed:\n" + "\n".join(tail))
    shutil.copy(cp, cp_file)
    classpath = cp_file.read_text().strip()
    train_archive(out, classpath)
    stamp_file.write_text(stamp)
    return classpath


def train_archive(out, classpath):
    """Record a class-data-sharing archive of the Spark, Scala and JDK
    classes a short Spark-only training run loads (no graft code runs
    in it), so every run's JVM starts from pre-parsed classes. Runs
    require the archive (-Xshare:on), so no run falls back silently to
    a slower start."""
    archive = out / "app.jsa"
    archive.unlink(missing_ok=True)
    work = out / "train"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run_harness(classpath, "train", 0, 1, 0, work, "", "",
                    share=[f"-XX:ArchiveClassesAtExit={archive}"])
    except RuntimeError as e:
        fail(f"build failed: the class-data-sharing training run failed ({e})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not archive.exists():
        fail("build failed: the class-data-sharing training run wrote no archive")


# ------------------------------------------------------------ harness run

def run_group(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group with output to `log`; on timeout
    kill the whole group (sbt starts a JVM of its own) and wait for it."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} exceeded {timeout}s")


def run_harness(classpath, workload, seed, seconds, trace, work, data, input_dir, share=None):
    out = work / "result.json"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    if share is None:
        share = ["-Xshare:on", f"-XX:SharedArchiveFile={build_dir() / 'app.jsa'}"]
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"] + share
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
            "--data", str(data), "--input", str(input_dir), "--cores", str(CORES),
            "--out", str(out)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    code = run_group(cmd, log, RUN_TIMEOUT_S.get(workload, DEFAULT_TIMEOUT_S))
    if code != 0 or not out.exists():
        tail = [l for l in log.read_text(errors="replace").splitlines()
                if "Exception" in l or "Error" in l or "shared archive" in l][:5]
        raise RuntimeError(f"harness exited {code}: " + " | ".join(tail))
    return json.loads(out.read_text())


# ----------------------------------------------------------------- checks

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """The oracle gate's canonical form: columns by name, rows by value."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(want, got):
    """Exact compare of two result frames, as the oracle gate does it.
    Returns None when they match, else the first differences."""
    w, g = canon(want), canon(got)
    if list(w.columns) != list(g.columns):
        return f"columns want={list(w.columns)} got={list(g.columns)}"
    if list(map(str, w.dtypes)) != list(map(str, g.dtypes)):
        return f"dtypes want={list(map(str, w.dtypes))} got={list(map(str, g.dtypes))}"
    if len(w) != len(g):
        return f"rows want={len(w)} got={len(g)}"
    bad = []
    for c in w.columns:
        wc, gc = w[c], g[c]
        neq = ~((wc == gc) | (wc.isna() & gc.isna()))
        if neq.any():
            i = neq.idxmax()
            bad.append(f"{c}[{i}]: want={wc[i]!r} got={gc[i]!r} ({int(neq.sum())} diffs)")
    return "; ".join(bad[:3]) or None


def corpus_key(data):
    h = hashlib.sha256(str(data).encode())
    for t in TABLES:
        p = Path(data) / f"{t}.parquet"
        if p.exists():
            st = p.stat()
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def check_queries(result, data, cache):
    """Each query's warm-up output against its DuckDB twin. Twin results
    are cached per (SQL, corpus) in the build directory: they are the
    reference answers, not program state."""
    import duckdb
    import pandas as pd
    checks = []
    outputs = result["extra"]["query_outputs"]
    oracles = result["extra"]["oracle_sql"]
    con = None
    key = corpus_key(data)
    cache.mkdir(parents=True, exist_ok=True)
    for name in sorted(outputs):
        out = outputs[name]
        if out["status"] != "ok":
            checks.append({"name": f"{name} ran", "group": name, "ok": False, "detail": out["status"]})
            continue
        sql = oracles.get(name)
        if sql is None:
            checks.append({"name": f"{name} oracle", "group": name, "ok": False,
                           "detail": "no DuckDB twin registered"})
            continue
        cached = cache / (hashlib.sha256((key + sql).encode()).hexdigest() + ".pkl")
        if cached.exists():
            want = pickle.loads(cached.read_bytes())
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    if (Path(data) / f"{t}.parquet").exists():
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{Path(data) / (t + '.parquet')}')")
            want = con.execute(sql).df()
            cached.write_bytes(pickle.dumps(want))
        files = sorted(Path(out["path"]).glob("*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        diff = compare(want, got)
        checks.append({"name": f"{name} matches its DuckDB twin", "group": name,
                       "ok": diff is None, "detail": diff or f"{len(got)} rows"})
    return checks


def check_reindex(result):
    """Every pass's bulk copy against DuckDB applying the same stored
    filter and mutator SQL to the generated source: row count and an
    order-insensitive content hash."""
    import duckdb
    r = result["extra"]["reindex"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    src = " UNION ALL ".join(
        f"SELECT * FROM read_parquet('{r['source']}/{t}/*.parquet')" for t in r["kept"])
    digest = ("SELECT count(*) AS n, sum(hash(doc_id, size, category, tier, body, size_kb)"
              "::HUGEINT) AS h FROM ({}) t")
    want = con.execute(digest.format(
        f"SELECT doc_id, size, category, CASE WHEN {r['assign_pred']} THEN 'large' ELSE tier END "
        f"AS tier, body, {r['with_column']} AS size_kb FROM ({src}) s "
        f"WHERE NOT coalesce({r['drop_pred']}, false)")).fetchone()
    checks = []
    for o in r["outputs"]:
        tables = sorted(p.name for p in Path(o["dir"]).iterdir() if p.is_dir())
        got = con.execute(digest.format(
            f"SELECT * FROM read_parquet('{o['dir']}/*/*/*.parquet', union_by_name=true)")
        ).fetchone()
        ok = tuple(got) == tuple(want) and tables == sorted(r["kept"])
        checks.append({"name": f"reindex {o['group']} matches DuckDB", "group": o["group"],
                       "ok": ok, "detail": f"rows/hash want={want} got={got} tables={tables}"})
    return checks


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def phase_metrics(phase, failed_groups):
    ops = phase["ops"]
    good = [o for o in ops if o["ok"] and o["group"] not in failed_groups]
    lats = [o["lat_s"] for o in good] or [float("nan")]
    return {
        "attempted": len(ops),
        "failed": len(ops) - len(good),
        "throughput_per_s": sum(o["items"] for o in good) / phase["wall_s"],
        "latency_p50_s": quantile(lats, 0.5),
        "latency_p90_s": quantile(lats, 0.9),
        "samples": len(good),
    }


def layer_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else {}
    return [(m["name"], m["unit"]) for m in spec.get("per_layer", [])]


def generate(workload, seed, work):
    """Write the seed's inputs three times; the copies must be identical.
    Returns the input directory and the median generation time."""
    gen = inputs.GENERATORS.get(workload)
    if gen is None:
        return "", 0.0
    times, digests = [], []
    for i in range(3):
        d = work / f"input-{i}"
        t0 = time.perf_counter()
        gen(str(d), seed)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for f in sorted(d.rglob("*.parquet")):
            h.update(f.relative_to(d).as_posix().encode())
            h.update(f.read_bytes())
        digests.append(h.hexdigest())
        if i:
            shutil.rmtree(d)
    if len(set(digests)) != 1:
        raise RuntimeError("the input generator is not deterministic for this seed")
    return work / "input-0", statistics.median(times)


def default_data():
    return Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))


def run_workload(workload, seed, seconds, trace, data):
    out = build_dir()
    classpath = build(out)
    if workload.startswith("queries") and not (Path(data) / "documents.parquet").exists():
        fail(f"query corpus not found at {data} (set SPARK_GRAFT_SF_DIR)")
    work = out / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        input_dir, generate_s = generate(workload, seed, work)
        result = run_harness(classpath, workload, seed, seconds, trace, work, data, input_dir)
        result["setup"]["generate_s"] = generate_s
        checks = list(result["checks"])
        if workload.startswith("queries"):
            checks += check_queries(result, data, out / "oracle-cache")
        elif workload == "reindex":
            checks += check_reindex(result)
        if trace:
            traces = out / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{workload}-seed{seed}.json").write_text(json.dumps(
                {"trace": result["extra"].get("trace"), "layers": result["layers"],
                 "checks": checks}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_groups = {c["group"] for c in checks if not c["ok"]}
    run_failed = "" in failed_groups
    phases = result["phases"]
    untraced = phase_metrics(phases[0], failed_groups)
    if run_failed:
        untraced["failed"] = untraced["attempted"]
    setup = result["setup"]
    e2e = {
        "setup_s": setup["session_s"] + setup.get("generate_s", 0.0) + setup["warmup_s"],
        "throughput_per_s": untraced["throughput_per_s"],
        "latency_p50_s": untraced["latency_p50_s"],
        "latency_p90_s": untraced["latency_p90_s"],
        "heap_retained_mb": result["heap_retained_mb"],
    }
    by_op = {}
    for o in phases[0]["ops"]:
        by_op.setdefault(o["name"], []).append(o["lat_s"])
    report = {"workload": workload, "e2e": e2e, "untraced": untraced, "checks": checks,
              "setup": setup, "by_op": by_op,
              "outputs": result["extra"].get("query_outputs", {})}
    if trace:
        # the traced phase sits between two untraced ones, so warm-up
        # still going on in the first does not read as tracing overhead
        traced = phase_metrics(phases[1], failed_groups)
        after = phase_metrics(phases[2], failed_groups)
        layers = dict(result["layers"])
        for k in ("throughput_per_s", "latency_p50_s", "latency_p90_s"):
            layers[f"overhead.{k}"] = traced[k] - (untraced[k] + after[k]) / 2
        report["layers"] = layers
    return report


def print_report(rep, trace):
    w = rep["workload"]
    u = rep["untraced"]
    for c in rep["checks"]:
        if not c["ok"]:
            print(f"{w}: CHECK FAILED {c['name']}: {c['detail']}")
    print(f"{w}: {len(rep['checks'])} output checks, "
          f"{sum(not c['ok'] for c in rep['checks'])} failed")
    for k, v in rep["e2e"].items():
        print(f"{w}: {k} = {v:.6g} {E2E_UNITS[k]}")
    per_min = u["throughput_per_s"] * 60
    if w.startswith("queries"):
        print(f"{w}: queries_per_min = {per_min:.6g} 1/min")
    else:
        print(f"{w}: docs_per_s = {u['throughput_per_s']:.6g} 1/s")
    print(f"{w}: failed_ratio = {u['failed'] / max(u['attempted'], 1):.6g} "
          f"({u['failed']} of {u['attempted']} operations)")
    print(f"{w}: latency samples = {u['samples']}")
    for name, o in sorted(rep["outputs"].items()):
        print(f"{w}: warm-up {name} = {o['warmup_s']:.3f} s")
    for name, lats in sorted(rep["by_op"].items()):
        print(f"{w}: latency {name} = " + " ".join(f"{x:.3f}" for x in lats) + " s")
    print(f"{w}: setup parts = " + ", ".join(f"{k} {v:.3g} s" for k, v in sorted(rep["setup"].items())))
    if trace:
        for k, v in sorted(rep["layers"].items()):
            print(f"{w}: {k} = {v:.6g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    data = default_data()

    if args.workload == "all":
        bad = 0
        for w in WORKLOADS:
            try:
                rep = run_workload(w, args.seed, args.seconds, args.trace, data)
            except RuntimeError as e:
                print(f"{w}: FAILED {e}")
                bad += 1
                continue
            print_report(rep, args.trace)
            bad += sum(not c["ok"] for c in rep["checks"])
        sys.exit(1 if bad else 0)

    try:
        rep = run_workload(args.workload, args.seed, args.seconds, args.trace, data)
    except RuntimeError as e:
        fail(str(e))
    print_report(rep, args.trace)
    u = rep["untraced"]
    correct = all(c["ok"] for c in rep["checks"])
    if args.trace:
        units = dict(layer_names())
        layers = rep["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u_} for n, u_ in units.items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in rep["e2e"].items()}
    print(json.dumps({"correct": correct, "attempted": u["attempted"], "failed": u["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
