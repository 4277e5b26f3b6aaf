#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload sync_stream --seed 1 --seconds 19 --trace 0

Run from the repository root. Builds graft and the runner (perfbench/build.sh)
when their sources changed, generates the seed's inputs, runs the workload in
a fresh JVM on local[min(nproc,4)], checks the outputs, prints every metric by
name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 records
spans around every call into graft and reports the per-layer metrics. Exits
non-zero when an output is wrong or the run could not complete. See
perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
ETL_ORDERS = 5_000        # voucher table: orders-shaped, ~20k transaction lines
ETL_BUCKETS = 16          # graftbench.EtlSync.Buckets
CDC_ORDERS = 5_000        # lineitem-shaped CDC table: ~20k lines
CDC_BUCKETS = 64          # graftbench.CdcStream.Buckets
REGISTRY_SF = 0.01
REGISTRY_SAMPLE = 12
SHARED_DEPS = os.path.join(HERE, "shared_deps.json")
# Never sampled: their DuckDB oracles ran out of a 3 GB limit after minutes
# at sf0.01 (on the repository's testdata too), beyond one run's budget.
ORACLE_TOO_COSTLY = {"graph_core_number", "graph_kcore_peel"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
WORKLOADS = ["registry_slice", "sync_stream"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_spark_jvms():
    """PIDs of live JVMs that run Spark or graft, other than our own."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and ("spark" in cmd or "graft" in cmd):
            found.append(pid)
    return found


def heap_size():
    """JVM heap as the repository's test runs size it: half of RAM in GiB,
    clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build():
    """Build (perfbench/build.sh) and return the runner's class path."""
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT)
    if r.returncode != 0:
        die("build failed", 3)
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    with open(os.path.join(ROOT, target, "classpath")) as f:
        return f.read().strip()


# ---------------------------------------------------------------------------
# statistics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least ten samples beyond it: the 11th
    largest value, at percentile (n-10)/n. NaN below 11 samples."""
    n = len(xs)
    if n < 11:
        return float("nan"), 0.0
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def self_times(spans):
    """Per span name: (calls, total s, self s). Self time is the span's
    duration minus the part of it its children cover."""
    by_id = {s[0]: s for s in spans}
    kids = {}
    for s in spans:
        if s[2] in by_id:
            kids.setdefault(s[2], []).append((s[4], s[5]))
    out = {}
    for sid, name, _parent, _op, t0, t1 in spans:
        cover, cur = 0, None
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, t0), min(b, t1)
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    cover += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            cover += cur[1] - cur[0]
        n, tot, slf = out.get(name, (0, 0.0, 0.0))
        out[name] = (n + 1, tot + (t1 - t0) / 1e9, slf + (t1 - t0 - cover) / 1e9)
    return out


# ---------------------------------------------------------------------------
# inputs and correctness

def table_rows(path):
    """Rows of a keyed parquet table (every data file under its bucket
    directories), bucket column excluded."""
    import pyarrow.parquet as pq
    rows, nbytes, files, buckets = [], 0, 0, 0
    for d in sorted(os.listdir(path)):
        if not d.startswith("_bucket="):
            continue
        buckets += 1
        for f in sorted(os.listdir(os.path.join(path, d))):
            if f.endswith(".parquet"):
                p = os.path.join(path, d, f)
                nbytes += os.path.getsize(p)
                files += 1
                t = pq.read_table(p)
                rows += [tuple(r.values()) for r in t.to_pylist()]
    return rows, nbytes, files, buckets


def check_etl(g, res, problems):
    """Per cycle: extracted and skipped rows as modelled. At the end: the
    tables of the measured set-up equal the model after its cycles. The
    warm-up cycle ran cycle 1 on the first set-up's own tables."""
    cycles = [o for o in res["ops"] if o["kind"] == "cycle"]
    measured = [o for o in cycles if o["measured"]]
    model, per_cycle = g.expected(len(measured))
    warm = [o for o in cycles if not o["measured"]]
    for o, exp in list(zip(measured, per_cycle)) + list(zip(warm, per_cycle)):
        rows = {s["stage"]: s["rows"] for s in o.get("run_stages", [])}
        want_ex = sum(v[0] for v in exp.values())
        want_skip = sum(v[1] for v in exp.values())
        if o["ok"] and (rows.get("extract") != want_ex or
                        rows.get("clean", 0) - rows.get("validate", 0) != want_skip):
            o["ok"] = False
            o["err"] = (f"mismatch: extracted {rows.get('extract')} skipped "
                        f"{rows.get('clean', 0) - rows.get('validate', 0)}, expected "
                        f"{want_ex} and {want_skip}")
        o["skipped"] = rows.get("clean", 0) - rows.get("validate", 0)
    store = {"bytes": 0, "rows": 0, "files": 0, "buckets": 0}
    for ent, state in model.items():
        rows, nbytes, files, buckets = table_rows(os.path.join(res["tables"]["etl"], ent))
        got, want = gen.row_hash(rows), gen.row_hash(state.values())
        if got != want:
            problems.append(f"{ent}: table (rows, hash) {got} != expected {want}")
        store = {"bytes": store["bytes"] + nbytes, "rows": store["rows"] + len(rows),
                 "files": store["files"] + files, "buckets": store["buckets"] + buckets}
    return store


def check_cdc(g, res, problems):
    """Every lookup read the version committed by its batch; the measured
    set-up's table equals the model after its batches. The warm-up batch
    ran batch 0 on the first set-up's own table."""
    batches = [o for o in res["ops"] if o["kind"] == "batch" and o["measured"]]
    lookups = {}
    for o in res["ops"]:
        if o["kind"] == "lookup":
            lookups.setdefault(o.get("batch"), []).append(o)
    state = {}
    for b, state in zip(range(len(batches)), g.states()):
        for o in lookups.get(b, []):
            if not o["ok"]:
                continue
            row = state.get(tuple(o["key"]))
            want = [] if row is None else [row[2]]
            if o["versions"] != want:
                o["ok"] = False
                o["err"] = f"mismatch: key {o['key']} read {o['versions']}, committed {want}"
    rows, nbytes, files, buckets = table_rows(res["tables"]["cdc"])
    got, want = gen.row_hash(rows), gen.row_hash(state.values())
    if got != want:
        problems.append(f"table (rows, hash) {got} != expected {want}")
    return {"bytes": nbytes, "rows": len(rows), "files": files, "buckets": buckets}


def check_registry(tables, work, tmp, res, problems):
    """Each sampled query's output must equal its DuckDB oracle: columns
    sorted by name, rows sorted by value, compared exactly."""
    import duckdb
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2,
                                 "temp_directory": tmp})
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = {}
    for name, sql in res["oracle"].items():
        if name in res["output_failed"]:
            bad[name] = "output failed: " + res["output_failed"][name]
            continue
        try:
            got = con.execute(f"SELECT * FROM '{work}/out/{name}/*.parquet'").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle or output that cannot be read
            bad[name] = f"exec error: {e}"
            continue
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad[name] = f"shape {got.shape} vs {exp.shape}"
            continue
        cols = list(got.columns)
        got = got.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        exp = exp.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        for c in cols:
            g, e = got[c], exp[c]
            if str(g.dtype).startswith("int") and str(e.dtype).startswith("int"):
                g, e = g.astype("int64"), e.astype("int64")
            if not g.equals(e):
                bad[name] = f"column {c} differs"
                break
    for o in res["ops"]:
        if o["name"] in bad and o["ok"]:
            o["ok"] = False
            o["err"] = "mismatch: " + bad[o["name"]]
    for name, why in sorted(bad.items()):
        problems.append(f"{name}: {why}")


# ---------------------------------------------------------------------------
# metrics

def metrics(workload, res, stores, trace, cores):
    """(end_to_end, per_layer, lines): the metric dicts of the JSON line
    and every named metric of the workload as (name, value, unit) lines."""
    ops = [o for o in res["ops"] if o["measured"]]

    def kind(k, ok_only=True):
        return [o for o in ops if o["kind"] == k and (o["ok"] or not ok_only)]

    def walls(k):
        return [o["wall_s"] for o in kind(k)]

    def lat_lines(name, xs):
        v, p = tail(xs)
        out = [(f"{name}_p50", median(xs), "s")]
        # a tail below the median says nothing: print it from 20 samples on
        return out + ([(f"{name}_tail", v, f"s@p{p:.1f}/n={len(xs)}")] if p >= 50 else [])

    setup = median(res["setup_s"])
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    lines = [("setup_s", setup, "s")]
    if workload == "sync_stream":
        prim = "cycle"
        units = kind("cycle", ok_only=False)           # one per iteration
        unit_ops = ops
        cyc, bat = kind("cycle"), kind("batch")
        applied = sum(s["rows"] for o in cyc for s in o["run_stages"] if s["stage"] == "upsert")
        lines += lat_lines("cycle_s", walls("cycle")) + lat_lines("batch_s", walls("batch"))
        lines += lat_lines("lookup_s", walls("lookup"))
        lines += [("cycle_rows_per_s", applied / max(1e-9, sum(walls("cycle"))), "1/s"),
                  ("batch_rows_per_s", sum(o["changes"] for o in bat) /
                   max(1e-9, sum(walls("batch"))), "1/s")]
        lines += [(f"stored_bytes_per_row.{k}", v["bytes"] / max(1, v["rows"]), "B")
                  for k, v in sorted(stores.items())]
    else:
        prim = "warm"
        units = kind("warm", ok_only=False)
        unit_ops = units
        lines += lat_lines("query_s", walls("warm"))
        lines += [("cold_query_s_p50", median(walls("cold")), "s")]
    n_ok = len(kind(prim))
    unit_s = sum(o["wall_s"] for o in unit_ops)
    if workload == "sync_stream":
        op_s = median(walls("cycle"))
    else:
        # the unit of work is a warm pass over the slice: the median of 12
        # different queries jumped with whichever query sat in the middle
        # (spread 19% over ten seeds, against 10% for the pass)
        size = len(kind("cold", ok_only=False))
        warm = kind("warm", ok_only=False)
        passes = [warm[i:i + size] for i in range(0, len(warm), size)]
        op_s = median([sum(o["wall_s"] for o in p) for p in passes
                       if len(p) == size and all(o["ok"] for o in p)])
        lines += [("suite_s", op_s, "s")]
    e2e = {"setup_s": (setup, "s"),
           "ops_per_s": (n_ok / unit_s if unit_s else 0.0, "1/s")}
    lines += [("fail_ratio", failed / attempted if attempted else 1.0, "ratio"),
              ("resident_cache_mb", res["resident_cache_mb"], "MB")]
    if not trace:
        return e2e, None, lines

    # ---- per-layer (traced run); engine counters per unit of the loop --
    n = max(1, len(units))

    def per_unit(key):
        return sum(o.get(key, 0.0) for o in unit_ops) / n

    layer = {
        "sources.scan_bytes": (per_unit("in_bytes"), "B"),
        "queries.plan_s": (per_unit("plan_ms") / 1e3, "s"),
        "queries.jobs_per_query": (0.0, "count"),
        "spark.jobs": (per_unit("jobs"), "count"),
        "spark.stages": (per_unit("stages"), "count"),
        "spark.tasks": (per_unit("tasks"), "count"),
        "spark.gap_s": (sum(o["wall_s"] - o["busy_ms"] / 1e3 for o in unit_ops) / n, "s"),
        "spark.task_busy_ratio": (sum(o["exec_run_ms"] for o in unit_ops) / 1e3 /
                                  max(1e-9, unit_s * cores), "ratio"),
        "spark.shuffle_bytes": (per_unit("shuffle_bytes"), "B"),
        "spark.spill_bytes": (per_unit("spill_bytes"), "B"),
        "spark.gc_s": (per_unit("gc_ms") / 1e3, "s"),
        "caches.pinned_mb": (res["pinned_mb"], "MB"),
        "tracing.op_s_p50": (op_s, "s"),
        "etl.rows_processed": (0.0, "count"),
        "etl.rows_skipped": (0.0, "count"),
        "etl.retries": (0.0, "count"),
        "sinks.lookup_rows_scanned_per_row_returned": (0.0, "ratio"),
    }
    for k in ("cycle", "batch"):
        layer[f"sinks.merge_jobs.{k}"] = (0.0, "count")
        layer[f"sinks.touched_bucket_ratio.{k}"] = (0.0, "ratio")
        layer[f"sinks.rows_rewritten_per_row_changed.{k}"] = (0.0, "ratio")
        layer[f"sinks.files_per_bucket.{k}"] = (0.0, "count")
    st = self_times(res["spans"])
    extra = [("sources.load_s", sum(v[2] for k, v in st.items() if k.startswith("sources."))
              / len(res["setup_s"]), "s"),
             ("caches.sweep_s", st.get("caches.sweep", (0, 0.0, 0.0))[2] / n, "s")]
    for k in ("cycle", "batch", "lookup", "warm", "cold"):
        if kind(k):
            extra += [(f"spark.{c}.{k}", median([o[c] for o in kind(k)]), "count")
                      for c in ("jobs", "stages", "tasks")]
    if workload == "sync_stream":
        cyc, bat, look = kind("cycle"), kind("batch"), kind("lookup")

        def stage_s(name):
            return median([s["ms"] / 1e3 for o in cyc for s in o["run_stages"]
                           if s["stage"] == name])
        valid = [sum(s["rows"] for s in o["run_stages"] if s["stage"] == "upsert") for o in cyc]
        layer.update({
            "etl.rows_processed": (median(valid), "count"),
            "etl.rows_skipped": (median([o["skipped"] for o in cyc]), "count"),
            "etl.retries": (sum(s["attempts"] - 1 for o in kind("cycle", False)
                                for s in o.get("run_stages", [])) / n, "count"),
            "sinks.merge_jobs.cycle": (median([o["upsert_jobs"] / 2 for o in cyc]), "count"),
            "sinks.merge_jobs.batch": (median([o["jobs"] for o in bat]), "count"),
            "sinks.touched_bucket_ratio.cycle":
                (median([o["touched_buckets"] / (2 * ETL_BUCKETS) for o in cyc]), "ratio"),
            "sinks.touched_bucket_ratio.batch":
                (median([o["touched_buckets"] / CDC_BUCKETS for o in bat]), "ratio"),
            "sinks.rows_rewritten_per_row_changed.cycle":
                (sum(o["out_records"] for o in cyc) / max(1, sum(valid)), "ratio"),
            "sinks.rows_rewritten_per_row_changed.batch":
                (sum(o["out_records"] for o in bat) / max(1, sum(o["changes"] for o in bat)),
                 "ratio"),
            "sinks.lookup_rows_scanned_per_row_returned":
                (sum(o["in_records"] for o in look) /
                 max(1, sum(len(o["versions"]) for o in look)), "ratio")})
        for k, v in stores.items():
            layer[f"sinks.files_per_bucket.{'cycle' if k == 'etl' else 'batch'}"] = \
                (v["files"] / max(1, v["buckets"]), "count")
        persist = median([o["persist_s"] for o in cyc])
        extra += [("etl.extract_s", stage_s("extract"), "s"),
                  ("etl.clean_s", stage_s("clean"), "s"),
                  ("etl.validate_s", stage_s("validate"), "s"),
                  ("etl.persist_report_s", persist, "s"),
                  ("serve.overhead_s", median([
                      o["wall_s"] - sum(s["ms"] for s in o["run_stages"]) / 1e3 - o["persist_s"]
                      for o in cyc]), "s"),
                  ("sinks.merge_s.cycle", stage_s("upsert"), "s"),
                  ("sinks.merge_s.batch", median([o["add_batch_ms"] / 1e3 for o in bat]), "s"),
                  ("streaming.add_batch_s", median([o["add_batch_ms"] / 1e3 for o in bat]), "s"),
                  ("streaming.overhead_s",
                   median([(o["trigger_ms"] - o["add_batch_ms"]) / 1e3 for o in bat]), "s")]
    else:
        layer["queries.jobs_per_query"] = (per_unit("jobs"), "count")
        fams = {}
        for o in kind("warm"):
            fams.setdefault(gen.family(o["name"]), []).append(o["wall_s"])
        extra += [(f"queries.{f}_s_p50", median(v), "s") for f, v in sorted(fams.items())]
        extra += [(f"caches.shared_build_s.{f}", v, "s")
                  for f, v in res["shared_build_s"].items()]
    lines += [(k, v, u) for k, (v, u) in sorted(layer.items())] + extra
    return e2e, layer, lines


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found: run from a checkout of the repository", 2)
    others = other_spark_jvms()
    if others:
        die(f"another Spark/graft JVM is alive (pids {' '.join(others)}); refusing to start", 4)
    classpath = build()
    t_start = time.monotonic()
    cores = min(os.cpu_count() or 1, 4)
    mem = heap_size()
    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    inp, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    local, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    for d in (inp, work, local, tmp):
        os.makedirs(d)
    proc = None
    try:
        if a.workload == "sync_stream":
            etl, cdc = gen.EtlGen(a.seed, ETL_ORDERS), gen.CdcGen(a.seed, CDC_ORDERS)
            etl.write(os.path.join(inp, "etl"))
            cdc.write(os.path.join(inp, "cdc"))
        else:
            gen.write_tables(os.path.join(inp, "tables"), REGISTRY_SF, a.seed)
            with open(SHARED_DEPS) as f:
                deps = json.load(f)
            names = [q for q in deps["registry"] if q not in ORACLE_TOO_COSTLY]
            sample = gen.sample_registry(names, a.seed, REGISTRY_SAMPLE)
            frames = sorted({fr for q in sample for fr in deps["reads"].get(q, [])})
            with open(os.path.join(inp, "sample.txt"), "w") as f:
                f.write("\n".join(sample) + "\n")
            with open(os.path.join(inp, "frames.txt"), "w") as f:
                f.write("\n".join(frames) + "\n")
        t_gen = time.monotonic()
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath,
                  "graftbench.GraftBench", a.workload, inp, work, str(a.seconds),
                  str(a.trace), str(cores)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    cwd=work, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die("JVM timed out" if rc is None else f"JVM exited with {rc}", 5)
        proc = None
        t_jvm = time.monotonic()
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        problems = []
        stores = {}
        if a.workload == "sync_stream":
            stores["etl"] = check_etl(etl, res, problems)
            stores["cdc"] = check_cdc(cdc, res, problems)
        else:
            check_registry(os.path.join(inp, "tables"), work, tmp, res, problems)
            if res["unplanned_shared"]:
                print(f"note: {res['unplanned_shared']} shared frame(s) were built inside "
                      "the cold pass; perfbench/shared_deps.json is stale")
        e2e, layer, lines = metrics(a.workload, res, stores, a.trace == 1, cores)
        print(f"workload {a.workload} seed {a.seed} cores {cores} heap {mem} "
              f"seconds {a.seconds} trace {a.trace}")
        print(f"wall inputs {t_gen - t_start:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
              f"checks {time.monotonic() - t_jvm:.1f} s; set-ups "
              + " ".join(f"{x:.2f}" for x in res["setup_s"]) + " s; ops "
              + " ".join(f"{o['kind'][0]}{o['wall_s']:.2f}" for o in res["ops"][:40]))
        for o in res["ops"]:
            if not o["ok"]:
                print(f"failed {o['kind']} {o['name']}: {o['err']}")
        for p in problems:
            print(f"mismatch {p}")
        print("jobs_per_op " + json.dumps([[o["name"], int(o["jobs"])] for o in res["ops"]]))
        if a.trace:
            print("self_times (span: calls, total s, self s)")
            for k, (c, t, s) in sorted(self_times(res["spans"]).items(), key=lambda x: -x[1][2]):
                print(f"  {k:<40} {c:>5} {t:>10.4f} {s:>10.4f}")
        for k, v, u in lines:
            print(f"metric {k} {v:.6g} {u}")
        chosen = layer if a.trace else e2e
        if not all(math.isfinite(v) for v, _u in chosen.values()):
            die("no successful operation to measure", 6)
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        correct = not problems and not any(o["err"].startswith("mismatch") for o in res["ops"])
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
        sys.exit(0 if correct and attempted > 0 else 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
