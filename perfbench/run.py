#!/usr/bin/env python3
"""perfbench: one seeded run of one workload of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark's JVM program from source into
``.bench_build/`` (only when a source changed), generates the seeded
inputs under ``.bench_work/``, runs the workload in one JVM with Spark
in ``local[<cores>]`` mode, checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload untraced and then traced on the same inputs, and reports the
per-layer metrics of the traced run plus the tracing overhead.
Details of the run (seed, cores, load, failures) go to standard error.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
ORACLE_CACHE = os.path.join(HERE, "oracle.json")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["alert_etl", "query_mix", "stream_dedup"]
JVM_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars, the Scala compiler among them: under $SPARK_HOME, else
    under the first Spark installation whose bin/ is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("perfbench: no Spark installation with its jars found (set SPARK_HOME)")


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def source_hash(files):
    """Hash of the engine and benchmark sources: the build stamp, and the
    run record's stand-in for a git tree id (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + benchmark into .bench_build/perfbench.jar and record a
    class-data-sharing archive from a short training run, unless both are
    up to date with the sources. Either failing fails the build, and the
    next run builds again: every measured run starts with the archive."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}; "
                         "run from the repository root")
    files = sources()
    stamp = source_hash(files)
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    log(f"building {len(files)} sources into {os.path.relpath(jar, ROOT)}")
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # a jar, not a directory: class-data sharing refuses directories
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    train_cds(jar, jars)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def train_cds(jar, jars):
    """Run every workload briefly once with -XX:ArchiveClassesAtExit, so
    later JVMs map the classes they load instead of parsing them from
    ~250 jars."""
    t0 = time.time()
    work = os.path.join(BUILD, "train")
    os.makedirs(work)
    spec = gen.load_spec()
    # a short training run: the classes a workload loads, not its JIT
    # state, are what the archive keeps
    spec["alert_etl"]["warm_ops"] = 1
    spec["query_mix"]["queries"] = spec["query_mix"]["queries"][:6]
    spec["stream_dedup"]["warm_batches"] = 1
    cfgs = []
    for w in WORKLOADS:
        wd = os.path.join(work, w)
        os.makedirs(wd)
        cfg, _, _ = prepare(w, 0, 0, wd, spec)
        cfg.update(trace=1, out=os.path.join(wd, "records.json"))
        path = os.path.join(wd, "config.json")
        gen.write_json(path, cfg)
        cfgs.append(path)
    cmd = jvm_cmd(jar, jars, work, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    with open(os.path.join(BUILD, "train.log"), "w") as lf:
        p = subprocess.Popen(cmd + cfgs, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=600)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(CDS_ARCHIVE):
        with open(os.path.join(BUILD, "train.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: class-data-sharing training run failed "
                         f"(exit {p.returncode}); see {os.path.relpath(BUILD, ROOT)}/train.log")
    log(f"class-data-sharing archive recorded in {time.time() - t0:.1f} s")


def jvm_cmd(jar, jars, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap, so resident memory does not follow heap resizing
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", *extra] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", f"{jar}{os.pathsep}{jars}", "perfbench.Main"])


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, n)


def run_jvm(cfg, jar, jars, work):
    cfg_path = os.path.join(work, f"config-{cfg['trace']}.json")
    gen.write_json(cfg_path, cfg)
    # -Xshare:on: a JVM that cannot map the archive fails instead of
    # silently starting slower
    cmd = jvm_cmd(jar, jars, work, [f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xshare:on"]
                  ) + [cfg_path]
    log_path = os.path.join(work, f"jvm-{cfg['trace']}.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s")
    if not os.path.exists(cfg["out"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {p.returncode} without records")
    with open(cfg["out"]) as fh:
        rec = json.load(fh)
    if "fatal" in rec:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: run failed: {rec['fatal']}")
    return rec


def oracle_digests(names, sql_of):
    """DuckDB answers over the base fixture, cached in perfbench/oracle.json
    keyed by the SQL text, so a changed oracle is recomputed."""
    cache = {}
    if os.path.exists(ORACLE_CACHE):
        with open(ORACLE_CACHE) as fh:
            cache = json.load(fh)
    out, missing = {}, []
    for n in names:
        if n not in sql_of:
            continue
        key = hashlib.sha256(sql_of[n].encode()).hexdigest()[:16]
        hit = cache.get(n)
        if hit and hit["sql"] == key:
            out[n] = hit
        else:
            missing.append((n, key))
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=1")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(gen.BASE_FIXTURE, t + '.parquet')}')")
        for n, key in missing:
            cur = con.execute(sql_of[n])
            cols = [d[0] for d in cur.description]
            out[n] = dict(check.digest(cols, cur.fetchall()), sql=key)
            cache[n] = out[n]
        log(f"computed {len(missing)} oracle answers with DuckDB")
        try:
            with open(ORACLE_CACHE, "w") as fh:
                json.dump(cache, fh, indent=1, sort_keys=True)
        except OSError:
            pass
    return out


def prepare(workload, seed, seconds, work, spec):
    """Generate the run's inputs; returns (config, truth, sizes). ``truth``
    is what the checks of ``failures`` need besides the JVM's records."""
    cfg = {"workload": workload, "seed": seed, "cpus": cores(),
           "work": work}
    truth = None
    if workload == "query_mix":
        data = os.path.join(work, "data")
        os.makedirs(data)
        sizes = gen.relayout_fixture(data, seed, spec["fixture"]["files_per_table"])
        w = spec[workload]
        # whole passes, as many as fit the requested seconds at the
        # nominal pass time, at least one
        cfg.update(data=data, queries=w["queries"],
                   passes=max(1, round(seconds / w["pass_seconds"])))
    elif workload == "stream_dedup":
        s = spec[workload]
        # a fixed batch count per run, at least one compaction's worth
        batches = max(s["compact_every"], round(seconds / s["batch_seconds"]))
        docs, warm = os.path.join(work, "docs"), os.path.join(work, "warm-docs")
        sizes = gen.heaps_corpus(docs, seed, batches, s)
        gen.heaps_corpus(warm, seed, s["warm_batches"], s, label="warm")
        cfg.update(docs=docs, warm_docs=warm, compact_every=s["compact_every"],
                   threshold=s["threshold"])
        truth = {"batches": batches, "compact_every": s["compact_every"]}
    else:
        s = spec["alert_etl"]
        script, truth = gen.prisma_fixture(seed, s)
        path = os.path.join(work, "prisma.json")
        gen.write_json(path, script)
        cfg.update(prisma_script=path, out_root=os.path.join(work, "published"),
                   rate429=s["rate429"], warm_ops=s["warm_ops"],
                   ops=max(1, round(seconds / s["op_seconds"])))
        sizes = {"alerts": truth["alerts"], "policies": s["policies"],
                 "services": s["services"], "page_size": s["page_size"],
                 "payload_bytes": os.path.getsize(path)}
    return cfg, truth, sizes


def failures(workload, rec, truth, work):
    """(failed op count, reasons) for one run's records."""
    ops = rec["ops"]
    reasons = {}
    bad_ops = {i for i, o in enumerate(ops) if not o["ok"]}
    for i in bad_ops:
        reasons.setdefault(ops[i]["name"], ops[i]["error"])
    fin = rec["finish"]
    if workload == "query_mix":
        oracle = oracle_digests(fin["first"].keys(), fin["oracle_sql"])
        wrong = check.check_queries(fin["first"], fin["last"], oracle)
        reasons.update(wrong)
        bad_ops |= {i for i, o in enumerate(ops) if o["name"] in wrong}
    elif workload == "stream_dedup":
        errs = check.check_stream(fin, truth)
        if errs:
            reasons["stream"] = "; ".join(errs)
            bad_ops = set(range(len(ops)))
    else:
        errs = check.check_report_tree(check.read_tree(os.path.join(work, "published")), truth)
        if errs:
            reasons["published tree"] = "; ".join(errs)
            bad_ops = set(range(len(ops)))
    if rec["leftover_tmp"]:
        reasons["temp"] = f"temp entries left at the end: {rec['leftover_tmp']}"
        bad_ops.add(len(ops) - 1)
    return len(bad_ops), reasons


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    load = os.getloadavg()[0]
    jars = spark_jars()
    jar = build(jars)
    spec = gen.load_spec()
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        cfg, truth, sizes = prepare(a.workload, a.seed, a.seconds, work, spec)
        gen_s = time.time() - t0
        runs = [0, 1] if a.trace else [0]
        recs = {}
        for tr in runs:
            c = dict(cfg, trace=tr, out=os.path.join(work, f"records-{tr}.json"))
            recs[tr] = run_jvm(c, jar, jars, work)
            recs[tr]["cpus"] = cfg["cpus"]
            recs[tr]["warm_ops"] = cfg.get("warm_ops", 0)
            if a.workload == "alert_etl" and tr == 0 and a.trace:
                shutil.rmtree(os.path.join(work, "published"), ignore_errors=True)
        rec = recs[runs[-1]]
        failed, reasons = failures(a.workload, rec, truth, work)
        attempted = max(1, len(rec["ops"]))
        e2e = metrics.end_to_end(recs[0])
        if a.trace:
            out = metrics.per_layer(rec, gen_s, a.workload, e2e["op_p50_s"],
                                    failed / attempted)
            units = metrics.PER_LAYER
        else:
            out, units = e2e, metrics.END_TO_END
        record = {"workload": a.workload, "seed": a.seed, "cpus": cfg["cpus"],
                  "loadavg": load, "tree": source_hash(sources())[:16],
                  "heap_max_mb": rec["heap_max_mb"], "cds": True,
                  "sizes": sizes, "traced": bool(a.trace), "ops": len(rec["ops"]),
                  "error_rate": failed / attempted, "failures": reasons}
        log("record " + json.dumps(record, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": out[k], "unit": u} for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    main()
