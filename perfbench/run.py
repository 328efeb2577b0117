#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 18 --trace 0

It builds graft and the benchmark program from source (sbt, offline) when
the sources changed since the last build, runs one workload with one seed
in a fresh JVM, checks every operation's output, prints a report and, as
the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("scan_x10", "query_mix", "lakehouse_rw")
DEADLINE_S = 170          # whole run, build excluded
BUILD_DEADLINE_S = 840
HEAP = "2g"
TAIL_SHARES = (0.01, 0.05, 0.10)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, env, log_path, timeout):
    """Run a command in its own process group; kill the whole group on
    timeout and wait for it, so nothing outlives the benchmark."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp():
    h = hashlib.sha256()
    tracked = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.abspath(__file__),
               os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            tracked += [os.path.join(d, f) for f in sorted(fs)]
    for path in tracked:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    # jars, not class directories: a class-data-sharing archive accepts
    # only jars on the class path
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "export perfbench/Runtime/fullClasspathAsJars"],
                   HERE, env, log, BUILD_DEADLINE_S)
    with open(log) as f:
        out = f.read().splitlines()
    cps = [l for l in out if "perfbench" in l and ".jar" in l
           and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 1)
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    # A class-data-sharing archive of the classes a short run loads: every
    # measured run starts from it, which cuts JVM start-up and warm-up by
    # several seconds. A failed dump only costs that speed.
    shutil.rmtree(os.path.join(STATE, "cds"), ignore_errors=True)
    work = os.path.join(STATE, "cds-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    run_group(jvm(cp, work, [f"-XX:ArchiveClassesAtExit={cds_archive()}"]) +
              ["--workload", "lakehouse_rw", "--seed", "0", "--seconds", "1",
               "--trace", "1", "--work", work, "--out", os.path.join(work, "d.json")],
              ROOT, dict(os.environ), os.path.join(STATE, "cds.log"), 300)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cds_archive():
    os.makedirs(os.path.join(STATE, "cds"), exist_ok=True)
    return os.path.join(STATE, "cds", "classes.jsa")


def jvm(cp, work, extra):
    return (["java"] + ADD_OPENS + extra +
            ["-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
             f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"])


# ---------------------------------------------------------------- checks

def close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if a is None or b is None:
        return a is b
    return str(a) == str(b)


def same_rows(got, want):
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    def eq(x, y):
        return len(x) == len(y) and all(close(a, b) for a, b in zip(x, y))
    if all(eq(x, y) for x, y in zip(got, want)):
        return None
    key = lambda r: [("" if v is None else str(v)) for v in r]
    g, w = sorted(got, key=key), sorted(want, key=key)
    for x, y in zip(g, w):
        if not eq(x, y):
            return f"row {x} vs {y}"
    return None


def duck(data_dir):
    import duckdb
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    for t in ("lineitem", "orders", "part", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


EXACT_PAIRS = """
WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
           FROM documents),
sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
sh AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS s
       FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a_id, b_id, s / (na.n + nb.n - s) AS jac
FROM sh JOIN sz na ON na.doc_id = a_id JOIN sz nb ON nb.doc_id = b_id
WHERE s / (na.n + nb.n - s) >= 0.4
"""


def check_query_mix(detail):
    """Judge each query kind once; returns (kind -> error or None, recall)."""
    fin = detail["finish"]
    con = duck(fin["data_dir"])
    verdicts = {}
    recall = None
    for kind, res in fin["results"].items():
        rows = res["rows"]
        try:
            if res["oracle"]:
                want = [list(r) for r in con.sql(res["oracle"]).fetchall()]
                verdicts[kind] = same_rows(rows, want)
            elif kind == "dd_minhash_lsh":
                exact = {(a, b): j for a, b, j in con.sql(EXACT_PAIRS).fetchall()}
                bad = [r for r in rows if (r[0], r[1]) not in exact
                       or not close(r[2], exact[(r[0], r[1])])]
                verdicts[kind] = f"{len(bad)} pairs not exact, e.g. {bad[:2]}" \
                    if bad else None
                found = sum(1 for r in rows if (r[0], r[1]) in exact)
                recall = found / len(exact) if exact else None
                if recall is None:
                    verdicts[kind] = "no exact pairs in the input"
            elif kind == "dd_semdedup":
                n = sum(r[1] for r in rows)
                ok = all(0 <= r[2] <= r[1] for r in rows)
                want = fin["sizes"]["embeddings"]
                verdicts[kind] = None if n == want and ok else \
                    f"clusters hold {n} of {want} vectors or drop too many"
            else:
                verdicts[kind] = "no check defined"
        except Exception as e:  # a broken oracle is a failed check
            verdicts[kind] = f"check raised {e!r}"
    return verdicts, recall, {k: v["hash"] for k, v in fin["results"].items()}


def resolve(detail):
    """Turn pending statuses into ok/bad; returns kind-level verdicts."""
    if detail["workload"] != "query_mix":
        return {}, None
    verdicts, recall, hashes = check_query_mix(detail)
    for op in detail["ops"]:
        if op["status"] != "pending":
            continue
        err = verdicts.get(op["kind"], "not checked")
        if err is None and op["hash"] != hashes.get(op["kind"]):
            err = "result differs from the first execution"
        op["status"], op["msg"] = ("ok", "") if err is None else ("bad", err)
    return verdicts, recall


# ---------------------------------------------------------------- metrics

QUERY_MIX = ("q01_pricing_summary", "q09_count_distinct",
             "q35_grouping_sets_join", "q40_exact_aggs",
             "q89_channel_union_report", "dd_minhash_lsh", "dd_semdedup",
             "ss_ann_ivf_det", "ta_perplexity_det", "cached_aggregate")

# Every per-layer metric of a traced run, in BENCHMARK.json order. Counts
# and times are means per timed operation unless the README says otherwise.
PER_LAYER = (
    ["spark." + n for n in (
        "analysis_ms", "optimization_ms", "planning_ms", "driver_self_ms",
        "jobs", "jobs_ungrouped", "stages", "tasks", "scheduler_delay_ms",
        "core_idle_ms", "task_cpu_ms", "task_run_ms", "gc_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
        "spill_bytes", "cached_rdds_after_op", "cached_mem_bytes_after_op",
        "c2r_boundaries")] +
    ["sources.v2.scan." + n for n in (
        "bytes_scanned", "io_requests", "files_read", "batches",
        "rows_decoded", "decode_ms", "rows_out_per_decoded",
        "stripes_pruned", "stripes_matched", "stats_eval_ms",
        "metadata_load_ms", "eq_delete_keys", "predicate_errors",
        "corrupt_files_skipped")] +
    ["sources.v2.write." + n for n in (
        "rows", "bytes", "files_created", "sidecar_bytes", "task_ms")] +
    ["sources.v2.commit.driver_ms",
     "sources.v2.manifest.snapshots", "sources.v2.manifest.live_files",
     "sources.v2.manifest.bytes",
     "sources.v2.maint.compact_ms", "sources.v2.maint.bytes_rewritten",
     "sources.v2.maint.files_removed",
     "sources.v2.write_amp", "sources.v2.space_amp",
     "streaming.batches", "streaming.batch_ms", "streaming.rows_in",
     "streaming.hwm_probes_fired",
     "operators.dedup.candidate_pairs", "operators.dedup.pairs_kept",
     "operators.dedup.kept_per_candidate",
     "operators.dedup.near_dup_recall"] +
    [f"operators.{k}.ms" for k in QUERY_MIX])


def unit_of(name):
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.split(".")[-1] in ("rows_out_per_decoded", "write_amp",
                               "space_amp", "kept_per_candidate",
                               "near_dup_recall"):
        return "ratio"
    return "count"


def layer_metrics(detail, recall):
    layer = dict(detail["layer"])
    if recall is not None:
        layer["operators.dedup.near_dup_recall"] = recall
    return {k: float(layer.get(k, 0.0)) for k in PER_LAYER}


def tail_count(n):
    """How many of n samples make the tail: the slowest 1%, 5% or 10%,
    whichever is smallest and still holds at least 10 samples; the 10
    slowest when a run has fewer than 100."""
    for share in TAIL_SHARES:
        if n * share >= 10:
            return n * share
    return min(10.0, n)


def tail_mean(xs, k):
    """Mean of the k slowest samples, the last one weighted by its fraction
    when k is not whole. Unlike an interpolated percentile it does not jump
    when an operation kind crosses the percentile's rank, which with few
    samples sits on the edge between kinds of very different latency."""
    total = weight = 0.0
    for x in sorted(xs, reverse=True):
        w = min(1.0, k - weight)
        if w <= 0:
            break
        total += w * x
        weight += w
    return total / weight


def e2e(detail, phase, recall, tail_share=None):
    """End-to-end metrics of one phase; `tail_share` fixes the tail's share
    of the samples, so that phases of different length compare."""
    ops = [o for o in detail["ops"] if o["phase"] == phase]
    ms = [o["ms"] for o in ops]
    ok = [o for o in ops if o["status"] == "ok"]
    k = tail_count(len(ms)) if tail_share is None else tail_share * len(ms)
    m = {
        "setup_s": (detail["setup_s"], "s"),
        "ops_per_s": (len(ok) / (sum(ms) / 1000.0), "1/s"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        "op_tail_ms": (tail_mean(ms, k), "ms"),
        "cpu_ms_per_op": (sum(o["cpu_ms"] for o in ops) / len(ops), "ms"),
        "rss_peak_mb": (detail["rss_peak_mb"], "MB"),
    }
    extra = {
        "op_fail_ratio": ((len(ops) - len(ok)) / len(ops), "ratio"),
        "op_samples": (len(ms), "count"),
        "op_tail_samples": (k, "count"),
    }
    for k, v in detail["phase_metrics"].get(phase, {}).items():
        extra[k] = (v, "ratio")
    if recall is not None:
        extra["near_dup_recall"] = (recall, "ratio")
    return m, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                        "SparkEntry.scala"))):
        fail(f"no graft sources at {ROOT}; run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    jsa = cds_archive()
    started = time.time()
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "detail.json")
    log = os.path.join(work, "jvm.log")
    cmd = (jvm(cp, work, [f"-XX:SharedArchiveFile={jsa}"]
               if os.path.exists(jsa) else []) +
           ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    rc = run_group(cmd, ROOT, dict(os.environ), log, DEADLINE_S)
    jvm_s = time.time() - started
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload run failed (exit {rc})", 1)
    with open(out) as f:
        detail = json.load(f)

    c0 = time.time()
    verdicts, recall = resolve(detail)
    check_s = time.time() - c0
    timed, extra = e2e(detail, "timed", recall)
    report = {"timed": {k: v[0] for k, v in {**timed, **extra}.items()}}
    print(f"perfbench {args.workload} seed={args.seed} "
          f"rounds={detail['rounds']} nproc={detail['context']['nproc']} "
          f"spark={detail['context']['spark_version']}")
    for k, (v, unit) in {**timed, **extra}.items():
        print(f"  {k:<22} {v:>14.4f} {unit}")
    print(f"  op_tail_ms is the mean of the {extra['op_tail_samples'][0]:g} slowest "
          f"of {extra['op_samples'][0]} timed operations")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in timed.items()}
    if args.trace:
        traced, textra = e2e(detail, "traced", recall,
                             extra["op_tail_samples"][0] / extra["op_samples"][0])
        report["traced"] = {k: v[0] for k, v in {**traced, **textra}.items()}
        print("  tracing overhead (traced minus untraced):")
        for k in timed:
            if k in ("setup_s", "rss_peak_mb"):
                continue
            d = traced[k][0] - timed[k][0]
            print(f"    {k:<20} {d:>+14.4f} {timed[k][1]} "
                  f"({100.0 * d / timed[k][0]:+.1f}%)")
        report["tracing_overhead"] = {k: traced[k][0] - timed[k][0] for k in timed}
        print("  layer self time (ms, traced phase):")
        for k, v in sorted(detail["self_ms"].items()):
            print(f"    {k:<20} {v:>14.1f}")
        layer = layer_metrics(detail, recall)
        for k, v in layer.items():
            print(f"  {k:<44} {v:>16.4f} {unit_of(k)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    for k, v in verdicts.items():
        if v:
            print(f"  CHECK FAILED {k}: {v}")
    bad = [o for o in detail["ops"] if o["status"] != "ok"]
    for o in bad[:10]:
        print(f"  FAILED {o['id']} {o['kind']} ({o['phase']}): {o['msg']}")
    report["context"] = detail["context"]

    keep = os.path.join(STATE, "last", args.workload)
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("detail.json", "spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.move(os.path.join(work, name), os.path.join(keep, name))
    with open(os.path.join(keep, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(f"  wall {time.time() - started:.1f} s (checks {check_s:.1f} s, "
          f"jvm {jvm_s:.1f} s: " +
          ", ".join(f"{k} {v:.1f}" for k, v in detail["wall_s"].items()) +
          f"); detail in "
          f"{os.path.relpath(keep, ROOT)}")

    print(json.dumps({"correct": not bad and not any(verdicts.values()),
                      "attempted": len(detail["ops"]), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
