#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Builds the engine and the benchmark's own code (perfbench/build.sbt) into
.bench_build/ when the sources changed, generates the input tables
(perfbench/gen.py), runs the workload in one JVM and checks its outputs:
the JVM checks what it can see itself (read-after-write values, the
reloaded graph store) and this script compares the kg reads' results
with the catalog's DuckDB oracle SQL and the curation_nights admissions
and serve row counts with an independent re-derivation. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding BENCHMARK.json's end_to_end metrics (--trace 0) or its per_layer
metrics (--trace 1). An earlier line prints the workload's metrics under
the workload's own names (query_p50_s, ...), with units.
--smoke runs every workload, untraced and traced, with a one-second
measuring window and checks that every metric appears with its unit and
every check passes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 175
WORKLOADS = ("kg", "curation_nights")
# the names every untraced run prints besides the JVM's own (info.names)
COMMON = ("setup_s", "op_error_ratio", "peak_rss_mb")

JAVA_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the benchmark unless the sources are unchanged;
    returns (classpath, source hash)."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from a checkout of the repository")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser(
                       "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
        fail(f"build failed (exit {rc}):\n{tail}", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip(), digest


def data_dir():
    """Generate the input tables once per version of gen.py."""
    gen = os.path.join(HERE, "gen.py")
    with open(gen, "rb") as f:
        d = os.path.join(BUILD, "data", hashlib.sha256(f.read()).hexdigest()[:12])
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        subprocess.run([sys.executable, gen, d], check=True,
                       stdin=subprocess.DEVNULL)
    return d


def class_sharing(digest, trace):
    """JVM options for class-data sharing: the first untraced run after a
    build records the classes its JVM loads into an archive, which later
    runs of every workload map instead of loading and verifying those
    classes from the jars. Returns (options, (recorded archive, its final
    path) or None)."""
    final = os.path.join(BUILD, "cds", f"{digest}.jsa")
    if os.path.exists(final):
        return [f"-XX:SharedArchiveFile={final}"], None
    if trace:
        return [], None
    shutil.rmtree(os.path.dirname(final), ignore_errors=True)
    os.makedirs(os.path.dirname(final))
    return [f"-XX:ArchiveClassesAtExit={final}.tmp"], (final + ".tmp", final)


def run_jvm(classpath, digest, workload, seed, seconds, trace, data, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds, record = class_sharing(digest, trace)
    cmd = ["java"] + [a for o in JAVA_OPENS for a in ("--add-opens", o)] + cds + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC", "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog,
                                stderr=subprocess.PIPE, text=True,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)

        def pump():
            for line in proc.stderr:
                jlog.write(line)
                if line.startswith("[perfbench"):
                    print(line, end="", file=sys.stderr, flush=True)

        reader = threading.Thread(target=pump, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload}: the JVM did not finish within {JVM_TIMEOUT_S} s", 1)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reader.join(timeout=10)
    if proc.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"{workload}: the JVM failed (exit {proc.returncode}):\n{tail}", 1)
    if record and os.path.exists(record[0]):
        os.replace(*record)
    with open(out) as f:
        return json.load(f)


def oracle_check_kg_reads(data, work):
    """Compare every read's output with its catalog oracle SQL in
    DuckDB, hashing both with scripts/oracle_check.py's canonical form.
    Returns the list of mismatches."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    from oracle_check import TABLES, frame_sig
    check = os.path.join(work, "check")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'tmp')}'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in sorted(oracle):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{check}/{name}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
            exp = con.execute(oracle[name]).fetchall()
            exp_cols = [d[0] for d in con.description]
        except Exception as e:  # a missing output is a failed check
            bad.append(f"{name}: {e}")
            continue
        gc, gn, gh, _ = frame_sig(got_cols, got)
        ec, en, eh, _ = frame_sig(exp_cols, exp)
        if (gc, gn, gh) != (ec, en, eh):
            bad.append(f"{name}: got {gn} rows {gh}, oracle {en} rows {eh}")
    return bad


def oracle_check_curation(data, nights):
    """Re-derive each night's admitted set and serve row counts from the
    tables alone (the catalog's q144 oracle, night by night) and compare.
    Returns the list of mismatches."""
    import numpy as np
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
    toks = {d: t.strip().split(" ") for d, t in zip(docs["doc_id"], docs["text"])}
    fp = {d: " ".join(sorted(set(t))) for d, t in toks.items()}
    sh = {d: {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
          for d, t in toks.items()}
    vec = {v: np.asarray(e, dtype=np.float64)
           for v, e in zip(emb["vec_id"], emb["embedding"])}
    unit = {v: e / np.linalg.norm(e) for v, e in vec.items()}
    lake = {d for d in toks if d % 3 != 0}
    # the IVF store indexes every history embedding, then admitted ones
    indexed = {v for v in vec if v % 3 != 0}
    cents = sorted(indexed)[:16]

    def nearest(v, k):
        sims = sorted(((-float(unit[v] @ unit[c]), c) for c in cents))
        return [c for _, c in sims[:k]]

    cell = {}
    bad = []
    for n in nights:
        night = n["night"]
        s_ids = n["slice"]
        quality = [d for d in s_ids if len(toks[d]) >= 8 and
                   len(set(toks[d])) >= 0.3 * len(toks[d])]
        lake_fps = {fp[d] for d in lake}
        fresh = [d for d in quality if fp[d] not in lake_fps]
        adm = {d for d in fresh if not (sh[d] and any(
            l != d and sh[l] and len(sh[d] & sh[l]) >= 0.8 * len(sh[d])
            for l in lake))}
        if adm != set(n["admitted"]):
            bad.append(f"night {night}: admitted {sorted(n['admitted'])}, "
                       f"expected {sorted(adm)}")
        lake |= adm
        lake_fps = {fp[d] for d in lake}
        df_t = {t: sum(1 for d in lake if t in toks[d])
                for t in ("sort", "stream", "hash")}
        indexed |= {d for d in adm if d in unit}
        for v in indexed:
            if v not in cell:
                cell[v] = nearest(v, 1)[0]
        ivf = 0
        for q in range(10):
            probe = set(nearest(q, 2))
            ivf += min(10, sum(1 for v, c in cell.items()
                               if c in probe and v != q))
        post = {}
        for d in lake:
            for g in sh[d]:
                post.setdefault(g, []).append(d)
        pairs = {}
        for g, ds in post.items():
            if len(ds) <= 50:
                ds = sorted(ds)
                for i in range(len(ds)):
                    for j in range(i + 1, len(ds)):
                        pairs[(ds[i], ds[j])] = pairs.get((ds[i], ds[j]), 0) + 1
        expected = {
            "bm25": sum(min(10, c) for c in df_t.values()),
            "ivf": ivf,
            "bloom": sum(1 for d in s_ids if fp[d] in lake_fps),
            "simgraph": sum(1 for c in pairs.values() if c >= 2),
        }
        got = n["serve_rows"]
        for k, v in expected.items():
            if got.get(k) != v:
                bad.append(f"night {night}: {k} serve returned {got.get(k)} "
                           f"rows, expected {v}")
    return bad


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              stdin=subprocess.DEVNULL).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def benchmark_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def run(workload, seed, seconds, trace):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {list(WORKLOADS)}")
    classpath, digest = build()
    data = data_dir()
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    res = run_jvm(classpath, digest, workload, seed, seconds, trace, data, work)
    jvm_s = time.time() - t0
    problems = list(res["problems"])
    failed = res["failed"]
    if workload == "kg":
        bad = oracle_check_kg_reads(data, work)
    else:
        bad = oracle_check_curation(data, res["info"]["nights"])
    failed += len(bad)
    problems += bad
    log(f"{workload}: JVM {jvm_s:.1f} s, output checks "
        f"{time.time() - t0 - jvm_s:.1f} s")
    attempted = max(1, res["attempted"])
    for p in problems[:20]:
        log(f"check failed: {p}")
    info = dict(res["info"], workload=workload, seed=seed, trace=trace,
                seconds=seconds, commit=commit(), source_sha=digest,
                data=os.path.relpath(data, ROOT), jvm_s=jvm_s,
                wall_s=time.time() - t0, problems=problems)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump({"metrics": res["metrics"], "info": info,
                   "attempted": attempted, "failed": failed}, f)
    if trace:
        shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
            BUILD, "results", f"{workload}-s{seed}.trace.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return res["metrics"], attempted, failed, info


def report(workload, metrics, attempted, failed, info, trace):
    """Print the run; returns (correct, missing metrics, the workload's own
    metric names → (value, unit))."""
    e2e, layers = benchmark_metrics()
    wanted = layers if trace else e2e
    own = {}
    if not trace:
        names = info["names"]
        own = {"op_error_ratio": (failed / attempted, "ratio")}
        for k, m in metrics.items():
            own[names.get(k, k)] = (m["value"], m["unit"])
        shown = list(COMMON) + list(names.values())
        print(f"{workload}: " + ", ".join(
            f"{k}={own[k][0]:.6g} {own[k][1]}" for k in shown if k in own) +
            f" (over {attempted} operations)")
    print("run: " + json.dumps({k: info.get(k) for k in (
        "workload", "seed", "trace", "nproc", "cpus", "heap_max_mb",
        "spark_version", "spark_conf", "data", "commit", "source_sha",
        "rounds", "measured_s", "setup_samples_s", "jvm_s", "wall_s")}))
    if trace:
        # every layer metric of the run, the workload-specific ones too
        print("layers: " + json.dumps(
            {k: [m["value"], m["unit"]] for k, m in metrics.items()}))
    missing = [n for n, _ in wanted if n not in metrics]
    out = {n: {"value": metrics[n]["value"], "unit": u}
           for n, u in wanted if n in metrics}
    correct = failed == 0 and not missing
    if missing:
        log(f"metrics missing from the run: {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return correct, missing, own


def smoke():
    """Every workload, untraced and traced, with a one-second measuring
    window: each metric of BENCHMARK.json, each metric the workload names
    as its own and each per-layer metric the JVM says it reports must
    appear with its unit, and every check must pass."""
    e2e, layers = benchmark_metrics()
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            metrics, attempted, failed, info = run(workload, 1, 1, trace)
            correct, missing, own = report(workload, metrics, attempted,
                                           failed, info, trace)
            units = dict(layers if trace else e2e)
            if trace:
                units.update(info["layer_metrics"])
            wrong = [n for n, u in units.items()
                     if n in metrics and metrics[n]["unit"] != u]
            missing += [n for n in units if n not in metrics]
            if not trace:
                missing += [n for n in list(COMMON) + list(
                    info["names"].values()) if n not in own or not own[n][1]]
            if not correct or wrong or missing:
                ok = False
                log(f"smoke {workload} trace={trace}: failed={failed} "
                    f"missing={missing} wrong units={wrong}")
    log("smoke " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    if a.smoke:
        sys.exit(smoke())
    if not a.workload:
        fail("--workload is required")
    metrics, attempted, failed, info = run(a.workload, a.seed, a.seconds, a.trace)
    report(a.workload, metrics, attempted, failed, info, a.trace)


if __name__ == "__main__":
    main()
