#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload ingest_tick --seed 1 --seconds 4 --trace 0

Run from the repository root. The script builds the program and the
driver with sbt (cached until a source changes), derives the catalog
tables from the tracked fixtures, generates the seeded inputs, runs the
driver JVM (one client, Spark on at most four local threads), checks
its outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
carries the same end-to-end figures under workload-specific names.

End-to-end metrics (``--trace 0``), each over one run:

* ``setup_s``      JVM start to the first timed op: session, ledger or
                   index build, warm-up.
* ``heap_after_gc_peak_mb``  peak JVM heap still in use right after a
                   collection. The resident set (VmHWM, printed as
                   ``rss_peak_mb`` on the line before the result) mostly
                   follows the heap size the collector picks (on a
                   4-vCPU, 15 GB box one seed read 2087 MB in one run
                   and 2799 MB in the next).
* ``op_p50_s``     median of one primary op: a tick (batch landed to
                   ledger version published), a top-k request, or a
                   catalog query (construct to action done). A run has
                   too few ops (2, 4 or 8) for any higher percentile to
                   have ten samples beyond it, so the p90 is printed on
                   the line before the result, with the sample counts,
                   but not gated.
* ``work_per_s``   ingested docs, requests or queries per second of
                   loop wall time (compaction and appends included).

The loop runs whole rounds (two ticks and a compaction, four requests
and an append, or every catalog query once): as many as take about
``--seconds`` on a 4-vCPU box, from each workload's nominal round time
(``round_s`` in ``workloads.json``), and at least one. The count does
not depend on how fast the box happens to be, so every run of a
workload measures the same ops.
``--trace 1`` prints the per-layer metrics instead: after an untraced
round 0, rounds alternate between untraced and traced (spans plus
Spark's listeners), and the two kinds give ``bench.trace_overhead_ratio``.
``fail_ratio`` is ``failed / attempted``. Everything the script writes
stays under ``perfbench/.work`` and ``perfbench/.build`` (plus sbt's
target dirs); ``perfbench/.work/last_<workload>.json`` keeps the full
record of a run, failures with their causes included.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)

import gen    # noqa: E402
import spans  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
PRIMARY = {"ingest_tick": "tick", "ann_serve": "serve", "catalog_mix": "query"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# what must be present for a build: the program and the tracked fixtures
NEEDED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
          "fixtures/sf1/lineitem.parquet"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = (glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
             + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
             + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
             + glob.glob(os.path.join(ROOT, "project/*.*"))
             + glob.glob(os.path.join(HERE, "project/*.*")))
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def classpath():
    """Compile (when sources changed) and return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            env["SBT_OPTS"] += (" -Dsbt.override.build.repos=true"
                                f" -Dsbt.repository.config={repos}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed (see perfbench/.build/sbt.log)")
    # class directories become jars so the JVM can map them from a
    # class-data-sharing archive (a JVM start with Spark loads ~10k
    # classes; the archive cuts that from seconds to a mapping)
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for root, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        cp.append(entry)
    cp = os.pathsep.join(cp)
    record_archive(cp)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def record_archive(cp):
    """Record the class-data-sharing archive: one JVM sets up the
    catalog mix (every query once, on seed-0 inputs), and the classes it
    loaded (most of Spark's SQL and parquet code, and the program's) are
    archived at exit. Later runs of every workload map them instead of
    loading them: set-up takes seconds less, the timed ops are
    unchanged."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    run = os.path.join(WORK, "cds")
    shutil.rmtree(run, ignore_errors=True)
    gen.generate("catalog_mix", 0, os.path.join(run, "inputs"))
    os.makedirs(os.path.join(run, "tmp"))
    with open(os.path.join(BUILD, "cds.log"), "w") as log:
        p = subprocess.run(
            java_cmd(cp, [f"-XX:ArchiveClassesAtExit={jsa}"], run)
            + ["--workload", "catalog_mix", "--rounds", "0", "--trace", "0",
               "--inputs", os.path.join(run, "inputs"),
               "--tables", catalog_tables(), "--work", run,
               "--out", os.path.join(run, "result.json"),
               "--params", json.dumps(gen.SPEC["catalog_mix"])],
            cwd=run, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
            timeout=240)
    shutil.rmtree(run, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(jsa):
        die("recording the class-data-sharing archive failed"
            " (see perfbench/.build/cds.log)")


def java_cmd(cp, jvm_flags, run):
    return (["java"] + [x for p in ADD_OPENS
                        for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + jvm_flags
            # the program's own default heap limit (the root build.sbt's
            # -Xmx8g); the heap grows with use, so VmHWM follows the
            # program's memory
            + ["-Xmx8g", f"-Djava.io.tmpdir={run}/tmp",
               "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Driver",
               "--cpus", str(min(os.cpu_count() or 1, 4))])


def catalog_tables():
    """The sf0.1 tables, derived once per checkout."""
    out = os.path.join(WORK, "tables")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        gen.tables(ROOT, out)
        open(os.path.join(out, "_done"), "w").close()
    return out


# ---- run -----------------------------------------------------------------

def rounds_for(workload, seconds, trace_on):
    """Whole rounds that take about `seconds` on a 4-vCPU box, at least
    one. The count depends only on the arguments, so every run of a
    workload issues the same ops. A traced run has an even count of at
    least four: after the untraced round 0, traced (odd) and untraced
    rounds alternate and the traced ones come first and last, so both
    kinds sit at the same mean position in the JIT warm-up."""
    n = max(1, round(seconds / gen.SPEC[workload]["round_s"]))
    return max(n + n % 2, 4) if trace_on else n


def run_driver(cp, workload, seconds, trace_on, inputs, tables, budget_s):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    out = os.path.join(run, "result.json")
    jsa = os.path.join(BUILD, "classes.jsa")
    flags = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    cmd = java_cmd(cp, flags, run) + [
        "--workload", workload,
        "--rounds", str(rounds_for(workload, seconds, trace_on)),
        "--trace", "1" if trace_on else "0", "--inputs", inputs,
        "--tables", tables, "--work", run, "--out", out,
        "--params", json.dumps(gen.SPEC[workload])]
    with open(os.path.join(WORK, "driver.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"driver exceeded {budget_s:.0f} s (see perfbench/.work/driver.log)")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(WORK, "driver.log")) as f:
            tail = [ln for ln in f if " INFO " not in ln][-15:]
        sys.stderr.writelines(tail)
        die(f"driver exited {rc} (see perfbench/.work/driver.log)")
    res = json.load(open(out))
    res["cpus"] = min(os.cpu_count() or 1, 4)
    return res, run


# ---- checks --------------------------------------------------------------

def check_ingest(res, inputs):
    import pyarrow.parquet as pq
    truth = json.load(open(os.path.join(inputs, "truth.json")))
    n_hist = truth["history_docs"]
    ran = truth["batches"][:res["gauges"]["ticks_run"]]
    admitted = set(o for o in res["checks"]["owners"] if o >= n_hist)
    seen = set(pq.read_table(os.path.join(inputs, "history.parquet"))
               .column("text").to_pylist())
    ticks = sorted(os.listdir(os.path.join(inputs, "ticks")))
    problems = []
    kinds = {"recrawl": [0, 0], "edit": [0, 0], "new": [0, 0]}  # [n, dropped]
    batch_ids = set()
    for t, b in enumerate(ran):
        texts = pq.read_table(os.path.join(inputs, "ticks", ticks[t])) \
            .column("text").to_pylist()
        for i, kind, text in zip(b["ids"], b["kinds"], texts):
            batch_ids.add(i)
            kinds[kind][0] += 1
            if i in admitted:
                if text in seen:
                    problems.append(f"admitted doc {i} repeats an earlier text")
                seen.add(text)
                if kind == "recrawl":
                    problems.append(f"re-crawled doc {i} was admitted")
            else:
                kinds[kind][1] += 1
    if not admitted <= batch_ids:
        problems.append("ledger owns ids no batch carried")

    def ratio(k):
        return kinds[k][1] / kinds[k][0] if kinds[k][0] else 0.0
    n = sum(v[0] for v in kinds.values())
    stats = {"ledger.batch_docs": n / max(len(ran), 1),
             "ledger.admitted_docs": len(admitted) / max(len(ran), 1),
             "ledger.drop_ratio": (n - len(admitted)) / n if n else 0.0,
             "ledger.exact_recall": ratio("recrawl"),
             "ledger.near_recall": ratio("edit"),
             "ledger.false_drop_ratio": ratio("new")}
    return problems, stats


def check_ann(res):
    c = res["checks"]
    recall = c["recall_hits"] / c["recall_total"] if c["recall_total"] else 0.0
    problems = [f"malformed top-k: {m}" for m in c["malformed"]]
    floor = gen.SPEC["ann_serve"]["recall_floor"]
    if c["recall_total"] == 0:
        problems.append("no request was checked")
    elif recall < floor:
        problems.append(f"recall@5 {recall:.4f} below the floor {floor}")
    return problems, {"vector.recall_at_5": recall}


def _canon(v):
    return repr(v) if isinstance(v, float) else str(v)


def _hash(rows, cols):
    """tools/check.py's result hash: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def check_catalog(res, tables):
    import duckdb
    con = duckdb.connect()
    for t in gen.SF1_SLICES.keys() | {"events"}:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(tables, t + '.parquet')}'")
    problems = []
    results = res["checks"]["results_dir"]
    for name, sql in sorted(res["checks"]["oracle_sql"].items()):
        path = os.path.join(results, name)
        if not sql:
            problems.append(f"{name}: no oracle SQL")
            continue
        if not os.path.isdir(path):
            problems.append(f"{name}: no result")
            continue
        try:
            s = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            s_cols, s_rows = [c.lower() for c in s.columns], s.fetchall()
            d = con.sql(sql)
            d_cols, d_rows = [c.lower() for c in d.columns], d.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows) \
                or _hash(s_rows, s_cols) != _hash(d_rows, d_cols):
            problems.append(f"{name}: result differs from the oracle")
    return problems, {}


# ---- metrics -------------------------------------------------------------

def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(-(-q * len(v) // 1)) - 1))]


def dispersion(values):
    """Interquartile range over median."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def setup_failures(res):
    return [f for f in res["failures"] if f["op"] == "setup"]


def counts(res):
    """(attempted, failed): every op, plus a setup that failed."""
    bad = len(setup_failures(res))
    ops = res["ops"]
    return len(ops) + bad, sum(1 for o in ops if not o["ok"]) + bad


def primary_done(res, workload):
    return any(o["ok"] and o["kind"] == PRIMARY[workload] for o in res["ops"])


def end_to_end(res, workload):
    ops = [o for o in res["ops"] if o["ok"]]
    prim = [o["dur_s"] for o in ops if o["kind"] == PRIMARY[workload]]
    wall = res["gauges"]["loop_wall_s"]
    spec = gen.SPEC[workload]
    if workload == "ingest_tick":
        work = len(prim) * spec["batch_docs"] / wall
    else:
        work = len(prim) / wall
    return {"setup_s": (res["first_op_ms"] - res["jvm_start_ms"]) / 1000.0,
            "heap_after_gc_peak_mb": res["heap_after_gc_peak_mb"],
            "op_p50_s": statistics.median(prim),
            "work_per_s": work}


VIEW_UNITS = {"setup_s": "s", "rss_peak_mb": "MB", "heap_after_gc_peak_mb": "MB",
              "fail_ratio": "ratio",
              "tick_p50_s": "s", "tick_p90_s": "s",
              "ingest_docs_per_s": "docs/s", "ledger_bytes_per_doc": "bytes",
              "serve_p50_s": "s", "serve_p90_s": "s", "append_p50_s": "s",
              "query_p50_s": "s", "query_p90_s": "s",
              "catalog_queries_per_s": "q/s"}


def named_view(res, workload, e2e):
    """The same figures under their workload-specific names."""
    ops = [o for o in res["ops"] if o["ok"]]
    attempted, failed = counts(res)
    view = {"setup_s": e2e["setup_s"], "rss_peak_mb": res["rss_peak_mb"],
            "heap_after_gc_peak_mb": e2e["heap_after_gc_peak_mb"],
            "fail_ratio": failed / attempted}
    p = PRIMARY[workload]
    prim = [o["dur_s"] for o in ops if o["kind"] == p]
    view[f"{p}_p50_s"] = e2e["op_p50_s"]
    view[f"{p}_p90_s"] = pct(prim, 0.9)
    if workload == "ingest_tick":
        view["ingest_docs_per_s"] = e2e["work_per_s"]
        g = res["gauges"]
        view["ledger_bytes_per_doc"] = g["indexstore.bytes"] / g["ledger_docs"]
    elif workload == "ann_serve":
        app = [o["dur_s"] for o in ops if o["kind"] == "append"]
        view["append_p50_s"] = statistics.median(app) if app else None
    else:
        view["catalog_queries_per_s"] = e2e["work_per_s"]
    return view


def per_layer(res, workload, stats, gen_s):
    names = [m["name"] for m in BENCH["per_layer"]]
    out = {n: 0.0 for n in names}
    sp, events = res["spans"], res["events"]
    prim = PRIMARY[workload]
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"] and o["kind"] == prim]
    # untraced rounds interleaved with the traced ones (round 0 is the
    # coldest and has no traced counterpart)
    untraced = [o for o in ops if not o["traced"] and o["ok"]
                and o["kind"] == prim and o["round"] >= 1]
    att = spans.attach(sp, events)
    op_of = {s["id"]: s["op"] for s in sp}
    tids = {o["id"] for o in traced}
    n = max(len(traced), 1)
    evs = [e for sid, es in att.items() if op_of[sid] in tids for e in es]
    pspans = [s for s in sp if s["op"] in tids]

    def span_sum(pred):
        return sum((s["end_ms"] - s["start_ms"]) / 1000.0
                   for s in pspans if pred(s["name"]))

    def ev_sum(kind, key=None, name=None):
        return sum((e["values"].get(key, 0.0) if key else
                    (e["end_ms"] - e["start_ms"]) / 1000.0)
                   for e in evs if e["kind"] == kind
                   and (name is None or e["name"] == name))

    def count(kind):
        return sum(1 for e in evs if e["kind"] == kind)

    busy_s = sum(o["dur_s"] for o in traced)
    out.update({
        "driver.construct_s": span_sum(lambda x: x.endswith("construct")
                                       or x == "streaming.dedupSink") / n,
        "driver.analysis_s": ev_sum("phase", name="analysis") / n,
        "driver.optimization_s": ev_sum("phase", name="optimization") / n,
        "driver.planning_s": ev_sum("phase", name="planning") / n,
        "driver.actions": (count("action") + count("action_failed")) / n,
        "spark.jobs": count("job") / n,
        "spark.tasks": count("task") / n,
        "spark.executor_run_s": ev_sum("task", "run_ms") / 1000.0 / n,
        "spark.executor_busy_ratio": (ev_sum("task", "run_ms") / 1000.0
                                      / (busy_s * res["cpus"]))
        if busy_s else 0.0,
        "scan.files_read": ev_sum("scan", "files") / n,
        "scan.bytes_read": ev_sum("scan", "bytes") / n,
        "scan.metadata_s": ev_sum("scan", "metadata_ms") / 1000.0 / n,
        "shuffle.bytes_written": ev_sum("task", "shuffle_write_bytes") / n,
    })
    self_s = spans.self_by_name(pspans, {k: v for k, v in att.items()
                                         if op_of[k] in tids})
    out["driver.self_s"] = sum(self_s.values()) / n
    if workload == "ingest_tick":
        out.update({
            "indexstore.snapshot_s": span_sum(lambda x: x == "indexstore.snapshot") / n,
            "stream.start_s": span_sum(lambda x: x == "stream.start") / n,
            "stream.trigger_s": ev_sum("stream", "triggerExecution") / 1000.0 / n,
            "stream.add_batch_s": ev_sum("stream", "addBatch") / 1000.0 / n,
            "stream.wal_commit_s": ev_sum("stream", "walCommit") / 1000.0 / n,
            "stream.commit_offsets_s": ev_sum("stream", "commitOffsets") / 1000.0 / n,
            "stream.latest_offset_s": ev_sum("stream", "latestOffset") / 1000.0 / n,
            "stream.query_planning_s": ev_sum("stream", "queryPlanning") / 1000.0 / n,
        })
    g = res["gauges"]
    for k in ("indexstore.head_version", "indexstore.manifests",
              "indexstore.data_files", "indexstore.bytes",
              "indexstore.bytes_rewritten", "indexstore.cas_retries"):
        if k in g:
            out[k] = float(g[k])

    def op_mean(kind):
        d = [o["dur_s"] for o in ops if o["ok"] and o["kind"] == kind]
        return statistics.mean(d) if d else 0.0
    if workload == "ingest_tick":
        out["indexstore.compact_s"] = op_mean("compact")
        out["indexstore.vacuum_s"] = op_mean("vacuum")
    if workload == "ann_serve":
        out["vector.serve_construct_s"] = span_sum(
            lambda x: x == "vector.serve_construct") / n
        out["vector.serve_exec_s"] = span_sum(
            lambda x: x == "vector.serve_exec") / n
        out["vector.append_s"] = op_mean("append")
        out["vector.compact_s"] = op_mean("compact")
        out["indexstore.compact_s"] = op_mean("compact")
    if workload == "catalog_mix":
        mods = res["checks"]["module_of"]
        for m in set(mods.values()):
            d = [o["dur_s"] for o in ops if o["ok"] and o["kind"] == "query"
                 and mods.get(o["name"]) == m]
            if f"catalog.{m}_s" in out and d:
                out[f"catalog.{m}_s"] = statistics.mean(d)
    out.update({k: v for k, v in stats.items() if k in out})
    st = res["setup"]
    out["setup.session_s"] = st["session_s"]
    out["setup.ledger_build_s"] = st.get("ledger_build_s", 0.0)
    out["setup.index_build_s"] = st.get("index_build_s", 0.0)
    out["setup.warmup_s"] = st.get("warmup_s", 0.0)
    out["box.control_s"] = statistics.mean(res["control_s"])
    out["box.op_dispersion"] = dispersion([o["dur_s"] for o in ops
                                           if o["ok"] and o["kind"] == prim])
    out["jvm.rss_peak_mb"] = res["rss_peak_mb"]
    out["bench.generator_s"] = gen_s
    t = [o["dur_s"] for o in traced]
    u = [o["dur_s"] for o in untraced]
    out["bench.trace_overhead_ratio"] = (
        statistics.median(t) / statistics.median(u) - 1.0) if t and u else 0.0
    return {k: out[k] for k in names}


def result_line(res, workload, trace_on, problems, stats, gen_s):
    """The last stdout line: end-to-end metrics, or per-layer ones when
    traced, each with its unit from BENCHMARK.json."""
    chosen = (per_layer(res, workload, stats, gen_s) if trace_on
              else end_to_end(res, workload))
    units = {m["name"]: m["unit"]
             for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    attempted, failed = counts(res)
    return {"correct": not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in chosen.items()}}


def run_to_run(workload, res):
    """Append this run's per-op-kind medians to the checkout's history
    and return each kind's dispersion over the last ten runs."""
    path = os.path.join(WORK, f"history_{workload}.jsonl")
    ops = [o for o in res["ops"] if o["ok"]]
    row = {k: statistics.median(o["dur_s"] for o in ops if o["kind"] == k)
           for k in {o["kind"] for o in ops}}
    row["box.control_s"] = statistics.mean(res["control_s"])
    with open(path, "a") as f:
        f.write(json.dumps(row) + "\n")
    rows = [json.loads(ln) for ln in open(path)][-10:]
    return {k: {"runs": len(v), "dispersion": dispersion(v)}
            for k in row
            for v in [[r[k] for r in rows if k in r]]}


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    missing = [f for f in NEEDED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        die(f"not a full checkout, missing {', '.join(missing)}")
    os.makedirs(WORK, exist_ok=True)
    cp = classpath()
    tables = catalog_tables()
    inputs = os.path.join(WORK, "inputs")
    shutil.rmtree(inputs, ignore_errors=True)
    t0 = time.perf_counter()
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.perf_counter() - t0
    # the driver gets what is left of a 180 s budget after the build
    # (a first build may take longer; the run itself then still has 120 s)
    budget = max(170.0 - (time.time() - t_start), 120.0)
    res, run = run_driver(cp, a.workload, a.seconds, a.trace == 1, inputs,
                          tables, budget)
    if setup_failures(res):
        problems, stats = [], {}
    elif a.workload == "ingest_tick":
        problems, stats = check_ingest(res, inputs)
    elif a.workload == "ann_serve":
        problems, stats = check_ann(res)
    else:
        problems, stats = check_catalog(res, tables)
    problems += [f"{f['op']} {f['name']}: {f['class']}: {f['message'][:300]}"
                 for f in res["failures"]]
    ops = res["ops"]
    kinds = sorted({o["kind"] for o in ops})
    # the record is written before any metric is derived, so a run in
    # which every op failed still keeps each failure and its cause
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "problems": problems, "failures": res["failures"],
        "checks": stats, "setup": res["setup"],
        "control_s": res["control_s"],
        "op_dispersion": {k: dispersion([o["dur_s"] for o in ops
                                         if o["kind"] == k and o["ok"]])
                          for k in kinds},
        "run_to_run": run_to_run(a.workload, res),
        "op_counts": {k: sum(1 for o in ops if o["kind"] == k) for k in kinds},
        "ops": ops, "gauges": res["gauges"]}
    record = os.path.join(WORK, f"last_{a.workload}.json")

    def save():
        with open(record, "w") as f:
            json.dump(artifact, f, indent=1)
    save()
    shutil.rmtree(run, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    if not primary_done(res, a.workload):
        # nothing to measure: report the failures, not a metric
        problems.append(f"no {PRIMARY[a.workload]} op completed")
        sys.stderr.writelines(p + "\n" for p in problems[:20])
        attempted, failed = counts(res)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        sys.exit(1)
    line = result_line(res, a.workload, a.trace == 1, problems, stats, gen_s)
    view = named_view(res, a.workload, end_to_end(res, a.workload))
    artifact.update(metrics=view, result=line)
    save()
    print(json.dumps({"workload_metrics": {
        k: {"value": v, "unit": VIEW_UNITS[k]} for k, v in view.items()},
        "samples": artifact["op_counts"], "control_s": res["control_s"],
        "problems": problems[:20]}))
    print(json.dumps(line))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
