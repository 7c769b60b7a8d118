"""Job-level benchmark for gjspark: the spark-submit job end to end, plus
the operators the job never calls, with a per-layer trace.

    python3 perfbench/run.py --workload job_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones and prints the layer
table above it. A wrong output makes the run exit 1. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# --n-parts sized to the inputs (the CLI default, 64, suits far more rows)
N_PARTS = 16
JOB_ID = "gjspark-job"  # the job's --job-id default


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env() -> dict:
    """Settings every run records and every process inherits."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # local[<nproc>]: the session's own default is local[32]
        "SPARK_GRAFT_CPUS": str(cores()),
        # the session's default driver heap is 24g
        "GJSPARK_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        env[v] = "1"
    os.environ.update(env)
    return env


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def setup_inputs(build, reps: int) -> tuple[str, dict, float]:
    """Build the inputs ``reps`` times from scratch; every build must be
    byte-identical (the seed fixes the inputs). -> (dir, goldens, median s)."""
    times, digests, first = [], set(), None
    for k in range(reps):
        d = os.path.join(WORK, f"inputs-{k}")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        gold = build(d)
        times.append(time.perf_counter() - t0)
        digests.add(json.dumps(dir_digest(d)))
        if first is None:
            first = (d, gold)
        else:
            shutil.rmtree(d)
    if len(digests) != 1:
        raise RuntimeError("the same seed built different inputs")
    return first[0], first[1], median(times)


def dir_digest(d: str) -> dict:
    from gen import file_digest

    return {f: file_digest(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _dn, fns in os.walk(d) for f in fns)


# ---------------------------------------------------------------------------
# The spark-submit job
# ---------------------------------------------------------------------------


def run_cli(inp: str, out: str) -> dict:
    """Launch ``python -m gjspark.plans.job`` and time it to its exit."""
    from procmon import TreeSampler, reap

    cmd = [sys.executable, "-m", "gjspark.plans.job",
           "--images", os.path.join(inp, "images.parquet"),
           "--features", os.path.join(inp, "features.geojson"),
           "--out", out, "--n-parts", str(N_PARTS)]
    with open(os.path.join(WORK, "job.log"), "ab") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err)
        with TreeSampler(p.pid) as s:
            try:
                stdout, _ = p.communicate(timeout=170)
            except subprocess.TimeoutExpired:
                p.kill()
                stdout, _ = p.communicate()
        wall = time.perf_counter() - t0
    reap(s.pids())
    return {"wall_s": wall, "cpu_s": s.cpu_s, "peak_rss_mb": s.peak_rss / 2**20,
            "rc": p.returncode, "stdout": stdout.decode(errors="replace")}


def read_output(d: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = pq.read_table(os.path.join(d, "_manifest.parquet")).to_pandas()
    m = m[m["status"] == "ok"]
    files = m["file"].fillna("part=" + m["part_id"].astype(str) + ".parquet")
    t = pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in files])
    return m, t


def check_job(out: str, gold: dict) -> list[str]:
    """Hash the PIP pairs, kNN nearest ids and rollup values against the
    goldens; -> list of mismatches (empty when correct)."""
    import pyarrow as pa

    from gen import digest

    errs = []
    cols = {"pip": ("image_id", "feature_id"),
            "knn": ("image_id", "nearest_location_id"),
            "rollup": ("cell", "n_images", "phash_xor")}
    for name, cs in cols.items():
        try:
            m, t = read_output(os.path.join(out, name))
        except (OSError, pa.ArrowException) as e:  # missing or unreadable output
            errs.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if int(m["row_count"].sum()) != t.num_rows:
            errs.append(f"{name}: manifest rows {int(m['row_count'].sum())} != {t.num_rows}")
        got = digest(zip(*(t.column(c).to_pylist() for c in cs)))
        if got != gold[name] or t.num_rows != gold[name + "_rows"]:
            errs.append(f"{name}: {t.num_rows} rows, digest {got}; "
                        f"golden {gold[name + '_rows']} rows, {gold[name]}")
    return errs


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            for e in errs:
                log("WRONG:", e)


def job_dense(args, res: Result) -> tuple[dict, dict | None]:
    """A fresh ``python -m gjspark.plans.job`` run over the dense corpus."""
    import gen

    inp, gold, setup_s = setup_inputs(
        lambda d: gen.build_dense_inputs(args.seed, d),
        1 if args.trace else SETUP_REPS)
    runs = []
    t_end = time.perf_counter() + args.seconds
    while not runs or (not args.trace and time.perf_counter() < t_end):
        out = os.path.join(WORK, f"out-{len(runs)}")
        r = run_cli(inp, out)
        res.record([f"job exit {r['rc']}"] if r["rc"] else check_job(out, gold))
        r["out_bytes"] = dir_bytes(out)
        runs.append(r)
    e2e = job_metrics(runs, gold["n_images"], setup_s)
    if not args.trace:
        return e2e, None
    out = os.path.join(WORK, "out-traced")
    layers = traced_job(inp, out)
    res.record(check_job(out, gold))
    layers["trace.overhead_s"] = layers["trace.wall_s"] - e2e["wall_s"]
    return e2e, layers


def job_metrics(runs: list[dict], n_images: int, setup_s: float) -> dict:
    wall = median([r["wall_s"] for r in runs])
    cpu = median([r["cpu_s"] for r in runs])
    return {
        "wall_s": wall,
        "images_per_s": n_images / wall,
        "cpu_s": cpu,
        "core_util": cpu / (wall * cores()),
        "peak_rss_mb": median([r["peak_rss_mb"] for r in runs]),
        "out_bytes": median([r["out_bytes"] for r in runs]),
        "setup_s": setup_s,
    }


def event_log_conf(d: str) -> dict:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{d}",
            "spark.eventLog.compress": "false", "spark.ui.showConsoleProgress": "false"}


def traced_job(inp: str, out: str) -> dict:
    """The calls ``run_pipeline`` makes, in its order, each in a span whose
    Spark jobs carry the layer's name; -> per-layer metrics."""
    from spans import ROWS, EventLog, Tracer

    ev_dir = os.path.join(WORK, "eventlog")
    tr = Tracer()
    writes = {
        "pip": dict(id_col="image_id", n_parts=N_PARTS),
        "knn": dict(id_col="image_id", n_parts=N_PARTS),
        "rollup": dict(id_col="cell", n_parts=max(N_PARTS // 4, 8), cell_col="cell"),
    }
    done, written = {}, {}
    with tr.span("job"):
        with tr.span("session.start"):
            from gjspark.plans.checkpoint import checkpointed_write, completed_parts
            from gjspark.plans.pipeline import build_pipeline
            from gjspark.session import get_spark

            spark = get_spark("gjspark-job", extra_conf=event_log_conf(ev_dir))
        tr.sc = spark.sparkContext
        with tr.span("sources.geojson"):
            dfs = build_pipeline(spark, os.path.join(inp, "images.parquet"),
                                 os.path.join(inp, "features.geojson"))
        with tr.span("operators.cells"):
            cached = dfs["slim"].persist()
            n_slim = cached.count()
        for name, kw in writes.items():
            d = os.path.join(out, name)
            done[name] = completed_parts(d)
            with tr.span(f"plans.checkpoint.{name}"):
                m = checkpointed_write(dfs[name], d, JOB_ID, resume=False, **kw)
            written[name] = m[~m["part_id"].isin(done[name])]
        cached.unpersist()
        tr.sc = None
        with tr.span("session.stop"):
            spark.stop()
    shutdown_jvm()

    ev = EventLog(ev_dir)
    dur = tr.dur
    v = {"session.start_s": dur("session.start"), "trace.wall_s": dur("job")}

    def put(layer, counts, **extra):
        counts.update(extra)
        for k, x in counts.items():
            v[f"{layer}.{k}"] = float(x)

    put("sources.geojson", ev.stage_counts(ev.layer_stages("sources.geojson")),
        s=dur("sources.geojson"), rows_out=ev.result_rows("sources.geojson"))
    put("operators.cells", ev.stage_counts(ev.layer_stages("operators.cells")),
        s=dur("operators.cells"), rows_out=n_slim)
    ops = {"pip": "operators.spatial_join.pip", "knn": "operators.spatial_join.knn",
           "rollup": "operators.tiling.rollup"}
    for name, op_layer in ops.items():
        ck = f"plans.checkpoint.{name}"
        op_stages, write_stages = ev.split_write(ck)
        op_s = ev.stage_wall(op_stages)
        node = ev.write_input_node(ck)
        upstream = ev.metric(node, ROWS) if node else 0.0
        w = written[name]
        rows_w = int(w["row_count"].sum())
        put(op_layer, ev.stage_counts(op_stages), s=op_s, rows_out=upstream)
        put(ck, ev.stage_counts(write_stages), s=dur(ck) - op_s, rows_out=rows_w,
            bytes_out=int(w["bytes_out"].sum()), parts_written=len(w),
            parts_skipped=len(done[name]),
            useful_row_ratio=rows_w / upstream if upstream else 0.0)
    cand = ev.sum_nodes("plans.checkpoint.pip", lambda n: n.endswith("Join"), ROWS)
    v["operators.spatial_join.pip.candidates"] = cand
    v["operators.spatial_join.pip.hit_ratio"] = (
        v["operators.spatial_join.pip.rows_out"] / cand if cand else 0.0)
    v["operators.tiling.rollup.images_decoded"] = ev.sum_nodes(
        "plans.checkpoint.rollup", lambda n: n == "MapInPandas", ROWS, skip_writer=True)
    return v


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it and
    every process under it to exit."""
    from procmon import reap, tree
    from pyspark import SparkContext

    kids = {(pid, st[1]) for pid, st in tree(os.getpid()).items() if pid != os.getpid()}
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    reap(kids)


OPS = ("operators.fused.mosaic", "operators.dedup.minhash",
       "operators.dedup.clusters", "operators.ann.topk")


def ops_warm(args, res: Result) -> tuple[dict, dict | None]:
    """One warm session; each pass calls the mosaic over pre-decoded
    features, then the minhash, dedup-cluster and ANN queries."""
    import gen
    from procmon import TreeSampler
    from spans import EventLog, Tracer

    d, gold, gen_s = setup_inputs(lambda d: gen.build_ops_inputs(args.seed, d),
                                  1 if args.trace else SETUP_REPS)
    tr = Tracer()
    t0 = time.perf_counter()
    ev_dir = os.path.join(WORK, "eventlog")
    with tr.span("session.start"):
        import __spark_entry__ as E
        from pyspark.sql import functions as F

        from gjspark.operators.cells import with_cell_columns
        from gjspark.operators.fused import decoded_features, mosaic_from_features
        from gjspark.session import get_spark

        spark = get_spark("gjspark-ops", extra_conf=event_log_conf(ev_dir) if args.trace else None)
    sc = spark.sparkContext
    sc.setJobDescription("setup")
    images = with_cell_columns(spark.read.parquet(os.path.join(d, "images.parquet")))
    feat = decoded_features(images).persist()
    feat.count()
    probe = images.select(F.col("h3_r7").alias("cell"))
    sc.setJobDescription(None)

    calls = {
        "operators.fused.mosaic": lambda: mosaic_from_features(feat, probe=probe),
        "operators.dedup.minhash": lambda: E.q_minhash_pairs(spark, d),
        "operators.dedup.clusters": lambda: E.q_dedup_clusters(spark, d),
        "operators.ann.topk": lambda: E.q_ann_topk(spark, d),
    }
    queries = dict(zip(OPS[1:], gen.OPS_QUERIES))

    def one_pass(tracer=None) -> tuple[float, int, dict]:
        from gen import canon, digest

        errs, nbytes, rows = [], 0, {}
        t = time.perf_counter()
        for layer in OPS:
            with tracer.span(layer) if tracer else nullcontext():
                pdf = calls[layer]().toPandas()
            rows[layer] = len(pdf)
            nbytes += int(pdf.memory_usage(index=False, deep=True).sum())
            if layer == "operators.fused.mosaic":
                got = digest(zip(pdf["cell"].tolist(), pdf["n_images"].tolist()))
                ok = got == gold["mosaic"]
            else:
                ok = canon(pdf) == gold[queries[layer]]
            if not ok:
                errs.append(f"{layer}: result differs from the oracle")
        wall = time.perf_counter() - t
        res.record(errs)
        return wall, nbytes, rows

    # Warm-up pass, checked like the others: the first call of each operator
    # pays Python worker imports and plan codegen, ~10 s on 4 cores.
    one_pass()
    setup_s = gen_s + (time.perf_counter() - t0)

    walls, cpus, sizes = [], [], []
    peak = 0
    t_end = time.perf_counter() + args.seconds
    while not walls or time.perf_counter() < t_end:
        with TreeSampler(os.getpid()) as s:
            wall, nbytes, _ = one_pass()
        walls.append(wall)
        cpus.append(s.cpu_s)
        sizes.append(nbytes)
        peak = max(peak, s.peak_rss)
        if args.trace:
            break
    wall = median(walls)
    log(f"ops_warm passes: {len(walls)}, walls {[round(w, 3) for w in walls]}")
    e2e = {
        "wall_s": wall,
        "images_per_s": gold["n_images"] / wall,
        "cpu_s": median(cpus),
        "core_util": median(cpus) / (wall * cores()),
        "peak_rss_mb": peak / 2**20,
        "out_bytes": median(sizes),
        "setup_s": setup_s,
    }
    if args.trace:
        t = time.perf_counter()
        tr.sc = sc
        rows = one_pass(tr)[2]
        traced = time.perf_counter() - t
    spark.stop()
    shutdown_jvm()
    if not args.trace:
        return e2e, None
    ev = EventLog(ev_dir)
    layers = {"session.start_s": tr.dur("session.start"),
              "trace.wall_s": traced, "trace.overhead_s": traced - wall}
    for layer in OPS:
        counts = ev.stage_counts(ev.layer_stages(layer))
        counts.update(s=tr.dur(layer), rows_out=rows[layer])
        layers.update({f"{layer}.{k}": float(x) for k, x in counts.items()})
    return e2e, layers


WORKLOADS = {"job_dense": job_dense, "ops_warm": ops_warm}


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

E2E_UNITS = {"wall_s": "s", "images_per_s": "1/s", "cpu_s": "s", "core_util": "ratio",
             "peak_rss_mb": "MB", "out_bytes": "bytes", "setup_s": "s"}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--make-goldens", action="store_true",
                   help="rerun the DuckDB dedup twins over every document set "
                        "and rewrite ops_goldens.json")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "gjspark")):
        log(f"no gjspark package under {ROOT}: run from a full checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    shutil.rmtree(WORK, ignore_errors=True)  # no state carries over between runs
    env = pin_env()
    os.chdir(WORK)
    if args.make_goldens:
        import gen

        with open(gen.GOLDENS, "w") as f:
            json.dump(gen.make_doc_goldens(), f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    if not args.workload:
        p.error("--workload is required")

    from procmon import noise_probe
    from spans import LAYERS, metric_names, print_table, unit

    log(f"env: {json.dumps(env, sort_keys=True)} cores={cores()}")
    log(f"noise probe: {noise_probe():.1f} ms (diagnostic; quiet host ~ the minimum seen)")
    res = Result()
    try:
        e2e, layers = WORKLOADS[args.workload](args, res)
    except Exception:  # a crash is a failed run, not a result
        traceback.print_exc()
        return 1
    log(f"error_rate: {res.failed}/{max(res.attempted, 1)}")
    if res.failed or not e2e:
        print(json.dumps({"correct": False, "attempted": max(res.attempted, 1),
                          "failed": max(res.failed, 1), "metrics": {}}), flush=True)
        return 1
    if args.trace:
        full = {k: float(layers.get(k, 0.0)) for k in metric_names()}
        print_table(full, sys.stdout)
        # the traced wall covers session start for the job, one pass for ops
        self_s = sum(full[f"{la}.s"] for la in LAYERS) + (
            full["session.start_s"] if args.workload.startswith("job") else 0.0)
        net = self_s - full["trace.overhead_s"]
        print(f"layer self-times {self_s:.2f} s (traced wall {full['trace.wall_s']:.2f} s); "
              f"minus tracing overhead {full['trace.overhead_s']:.2f} s = {net:.2f} s "
              f"vs untraced wall_s {e2e['wall_s']:.2f} s "
              f"({net / e2e['wall_s'] - 1:+.1%})", flush=True)
        metrics = {k: {"value": x, "unit": unit(k)} for k, x in full.items()}
    else:
        metrics = {k: {"value": float(x), "unit": E2E_UNITS[k]} for k, x in e2e.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
