#!/usr/bin/env python3
"""Benchmark of the knowledge-graph recommendation engine.

    python3 kgbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 kgbench/run.py --all [--seed N] [--seconds S]

Run from the repository root. The first call builds the engine and the
harness from source with sbt (kgbench/build.sbt); later calls reuse the
build while the sources are unchanged. Inputs are the TPC-H-shaped
parquet tables under kgbench/data/. One workload run prints a summary line and,
last, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--all` runs every workload untraced and traced and prints every metric
by name, plus the tracing overhead. See kgbench/README.md.
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

import numpy as np

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench")
DATA = os.path.join(HERE, "data")
STRATEGIES = ["diverse", "softmax", "stochastic", "adam"]
RUN_LIMIT_S = 170

# sf: input scale; min_ops: operations every run makes (the fixed prefix
# over which memo hits/misses are reported); setup_rounds: set-ups whose
# median is setup_s
WORKLOADS = {
    "refresh": dict(sf=0.001, min_ops=1, setup_rounds=5),
    "serve-interactive": dict(sf=0.1, min_ops=48, setup_rounds=3),
    "serve-batch": dict(sf=0.1, min_ops=4, setup_rounds=3),
}
# The models the engine trains on kgbench/data/sf0.001 (train and
# validation AUC, overfit-gate outcome), recorded when this benchmark was
# written. LR repeats exactly run to run. GBT does not: across fresh
# sessions its fit lands on one of two models, and the overfit gate
# (train - val AUC <= 0.06) rejects the second (see README.md). A run
# must reproduce a recorded outcome, in both directions, so a faster
# engine cannot train a different model unnoticed.
RECORDED_MODELS = {
    "lr": [dict(auc_train=0.6125858805220816, auc_val=0.630202680505828, gate_pass=1.0)],
    "gbt": [dict(auc_train=0.6610423975036244, auc_val=0.6054523925365004, gate_pass=1.0),
            dict(auc_train=0.6629434105238946, auc_val=0.5901562311572417, gate_pass=0.0)],
}
AUC_TOLERANCE = 1e-9

SPANS = ["core.session", "graph.build", "ingest.append", "ingest.compact", "ingest.load",
         "fold.embed", "fold.knn", "fold.louvain", "fold.degree",
         "ml.corpus", "ml.train_lr", "ml.train_gbt",
         "rec.stage", "rec.candidates", "rec.topk", "rec.enrich"]
SPAN_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("tasks", "count"), ("cpu_s", "s"),
               ("shuffle_bytes", "bytes"), ("skew", "ratio")]
COUNTS = [("fold.knn.spill_bytes", "bytes"), ("rec.candidates.spill_bytes", "bytes"),
          ("fold.knn.pairs_scored", "count"), ("fold.knn.keep_ratio", "ratio"),
          ("ingest.bytes_written", "bytes"), ("ingest.files_written", "count"),
          ("rec.memo_hits", "count"), ("rec.memo_misses", "count"),
          ("rec.jobs_per_request", "count")]
END_TO_END = [("setup_s", "s"), ("p50_ms", "ms"), ("tail_ms", "ms"),
              ("ops_per_s", "1/s"), ("memo_mb", "MB")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    pats = ["kgbench/build.sbt", "kgbench/project/*.properties", "kgbench/src/**/*.scala",
            "build.sbt", "project/*.sbt", "project/*.properties", "src/main/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (sbt, offline) unless the
    sources are unchanged since the last build. Returns (classpath,
    jvm options)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("kgbench: engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = _source_stamp()
    fresh = (os.path.exists(cp_file) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        log("kgbench: building engine + harness with sbt ...")
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or not os.path.exists(cp_file):
            log(r.stdout[-4000:])
            raise SystemExit("kgbench: build failed")
        log(f"kgbench: build done in {time.time() - t0:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = open(cp_file).read().strip()
    opts = [o for o in open(os.path.join(target, "jvm-opts.txt")).read().split("\n") if o]
    return cp, opts


# -------------------------------------------------------------- requests

def requests(workload, seed):
    """The seeded request stream as tab-separated lines (see Serve.scala).
    Customers 14000.. are reserved for set-up requests."""
    rng = np.random.default_rng([seed, 7])
    lines = []
    if workload == "serve-interactive":
        for i in range(24):  # set-up requests: one first touch per four
            lines.append(["W", 14000 + i // 4, 1 + i % 12, STRATEGIES[i % 4], 0, int(i % 4 == 0)])
        fresh = iter(rng.permutation(14000))
        served = []
        # exactly one first touch in every block of four requests, so the
        # miss share is 1/4 in every run prefix and the tail percentile
        # stays inside the misses
        first_touch = set()
        for b in range(0, 3000, 4):
            first_touch.add(b if b == 0 else b + int(rng.integers(0, 4)))
        for i in range(3000):
            if i in first_touch:
                c, miss = int(next(fresh)), 1
                served.append(c)
            else:  # skewed repeat: earlier (more popular) customers more often
                c, miss = served[int(len(served) * rng.random() ** 2)], 0
            check = 1 if i < 2 or rng.random() < 0.1 else 0
            lines.append(["R", c, int(rng.integers(1, 13)), STRATEGIES[i % 4], check, miss])
    elif workload == "serve-batch":
        lines.append(["W", 14000, 12, "-", 0, 1])
        starts = rng.choice(13001, size=400, replace=False)
        for i, a in enumerate(starts):
            check = 1 if i == 0 or rng.random() < 0.25 else 0
            lines.append(["R", int(a), int(rng.integers(1, 13)), STRATEGIES[i % 4], check, 1])
    return ["\t".join(str(x) for x in ln) for ln in lines]


# ---------------------------------------------------------------- oracle

class Oracle:
    """DuckDB over the same parquet files, for the engine's own oracle SQL."""

    def __init__(self, data_dir):
        import duckdb
        self.con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                             f"'{os.path.join(data_dir, t + '.parquet')}')")

    def mismatch(self, sql, got):
        """None when `got` equals the oracle's rows, else a description.
        topK's rows carry no order, the oracle's are by (customer, rank)."""
        want = self.con.execute(sql).fetchall()
        got = sorted(got, key=lambda r: (r[0], r[1]))
        if len(want) != len(got):
            return f"oracle rows {len(want)} != engine rows {len(got)}"
        for w, g in zip(want, got):
            if list(w[:4]) != list(g[:4]) or abs(float(w[4]) - float(g[4])) > 1e-6:
                return f"oracle row {tuple(w)} != engine row {tuple(g)}"
        return None


# ---------------------------------------------------------------- host

def steal_ticks():
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8])
    except (OSError, IndexError, ValueError):
        return 0


# ---------------------------------------------------------------- run

def run_jvm(workload, seed, seconds, trace, cp, jvm_opts):
    cfg = WORKLOADS[workload]
    data_dir = os.path.join(DATA, f"sf{cfg['sf']}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    req_file = os.path.join(run_dir, "requests.tsv")
    stream = requests(workload, seed)
    with open(req_file, "w") as f:
        f.write("\n".join(stream) + "\n")
    out_file = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + jvm_opts + ["-cp", cp, "kgbench.Main",
                         "--workload", workload, "--trace", "1" if trace else "0",
                         "--seconds", str(seconds), "--min-ops", str(cfg["min_ops"]),
                         "--setup-rounds", str(cfg["setup_rounds"]),
                         "--data", data_dir, "--work", run_dir,
                         "--requests", req_file, "--out", out_file])
    steal0 = steal_ticks()
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"kgbench: {workload} run exceeded {RUN_LIMIT_S} s")
        if rc != 0 or not os.path.exists(out_file):
            log(open(log_path).read()[-4000:])
            raise SystemExit(f"kgbench: harness exited with {rc}")
        with open(out_file) as f:
            res = json.load(f)
        # the raw samples of the last run of each workload stay for inspection
        shutil.copy(out_file, os.path.join(WORK, f"last-{workload}-trace{int(trace)}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["steal_s"] = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    res["stream_digest"] = hashlib.sha256("\n".join(
        ln for ln in stream if ln.startswith("R")).encode()).hexdigest()[:16]
    res["data_dir"] = data_dir
    return res


def check_outputs(res):
    """Run the oracle comparisons and recorded-model checks; returns the set of op
    indexes that failed and a list of problems."""
    failed, problems = set(), []
    oracle = Oracle(res["data_dir"])
    for op in res["ops"]:
        for p in op["problems"]:
            problems.append(f"op {op['i']}: {p}")
        if not op["ok"]:
            failed.add(op["i"])
        for chk in op.get("checks", []):
            bad = oracle.mismatch(chk["sql"], chk["rows"])
            if bad:
                failed.add(op["i"])
                problems.append(f"op {op['i']} {chk['strategy']}: {bad}")
    if res["workload"] == "refresh":
        for op in res["ops"]:
            for algo, outcomes in RECORDED_MODELS.items():
                if "models" in op and model_outcome(op, algo) is None:
                    failed.add(op["i"])
                    m = {k: op["models"][algo][k] for k in outcomes[0]}
                    problems.append(f"op {op['i']}: {algo} model {m} is none of the recorded {outcomes}")
    return failed, problems


def model_outcome(op, algo):
    """Index of the recorded outcome the op's `algo` model reproduces, or None."""
    got = op["models"][algo]
    for j, want in enumerate(RECORDED_MODELS[algo]):
        if all(abs(got[k] - v) <= AUC_TOLERANCE for k, v in want.items()):
            return j
    return None


def span_metrics(res, prefix_ops):
    ops = [op for op in res["ops"] if op["ok"]]
    out = {}
    for name in SPANS:
        present = [op["spans"][name] for op in ops if name in op["spans"]]
        for field, unit in SPAN_FIELDS:
            v = stats.median([s[field] for s in present]) if present else 0
            out[f"{name}.{field}"] = {"value": v, "unit": unit}

    def med(vals):
        return stats.median(vals) if vals else 0

    knn = [op["spans"]["fold.knn"] for op in ops if "fold.knn" in op["spans"]]
    cand = [op["spans"]["rec.candidates"] for op in ops if "rec.candidates" in op["spans"]]
    ingest = [op["spans"].get("ingest.append", {}).get("output_bytes", 0)
              + op["spans"].get("ingest.compact", {}).get("output_bytes", 0)
              for op in ops if "ingest.append" in op["spans"]]
    keep = [op["sim_rows"] / op["pairs_scored"] for op in ops if op.get("pairs_scored")]
    jobs = [sum(s["jobs"] for n, s in op["spans"].items() if n.startswith("rec."))
            for op in ops]
    prefix = res["ops"][:prefix_ops]
    vals = {
        "fold.knn.spill_bytes": med([s["spill_bytes"] for s in knn]),
        "rec.candidates.spill_bytes": med([s["spill_bytes"] for s in cand]),
        "fold.knn.pairs_scored": med([op["pairs_scored"] for op in ops if op.get("pairs_scored")]),
        "fold.knn.keep_ratio": med(keep),
        "ingest.bytes_written": med(ingest),
        "ingest.files_written": med([op["files_written"] for op in ops if "ingest.append" in op["spans"]]),
        "rec.memo_hits": sum(op.get("memo_hits", 0) for op in prefix),
        "rec.memo_misses": sum(op.get("memo_misses", 0) for op in prefix),
        "rec.jobs_per_request": med(jobs),
    }
    for name, unit in COUNTS:
        out[name] = {"value": vals[name], "unit": unit}
    return out


def summarize(res, failed, problems, seconds):
    cfg = WORKLOADS[res["workload"]]
    ops = res["ops"]
    walls = [op["wall_s"] for op in ops]
    ok_walls = [op["wall_s"] for op in ops if op["i"] not in failed] or walls
    tail_v, tail_p, tail_n = stats.tail(ok_walls)
    memo_mb = res["memo_mb"]
    e2e = {
        "setup_s": stats.median(res["setup_s"]) + res["setup_once_s"],
        "p50_ms": 1000 * stats.median(ok_walls),
        "tail_ms": 1000 * tail_v,
        "ops_per_s": len(walls) / sum(walls),
        "memo_mb": memo_mb,
    }
    prefix = ops[:cfg["min_ops"]]
    hits = sum(op.get("memo_hits", 0) for op in prefix)
    misses = sum(op.get("memo_misses", 0) for op in prefix)
    w = res["workload"]
    named = {"setup_s": (e2e["setup_s"], "s"), "memo_mb": (memo_mb, "MB"),
             "failed_ratio": (len(failed) / max(len(ops), 1), "ratio")}
    if w == "refresh":
        named["refresh_s"] = (e2e["p50_ms"] / 1000, "s")
        ok = [op for op in ops if "models" in op]
        if ok:
            named["auc_val_lr"] = (ok[0]["models"]["lr"]["auc_val"], "auc")
            named["auc_val_gbt"] = (ok[0]["models"]["gbt"]["auc_val"], "auc")
    elif w == "serve-interactive":
        named["serve_p50_ms"] = (e2e["p50_ms"], "ms")
        named["serve_tail_ms"] = (e2e["tail_ms"], "ms")
        named["serve_rps"] = (e2e["ops_per_s"], "1/s")
    else:
        named["batch_customers_per_s"] = (1000 * e2e["ops_per_s"], "1/s")
    summary = {
        "workload": w, "trace": res["trace"], "seconds": seconds,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "tail": {"percentile": tail_p, "beyond": tail_n, "samples": len(ok_walls)},
        "ops": len(ops), "failed": len(failed),
        "stream_digest": res["stream_digest"],
        "memo_prefix": {"ops": len(prefix), "hits": hits, "misses": misses},
        "host": {"cores": len(os.sched_getaffinity(0)), "calib_s": res["calib_s"],
                 "steal_s": res["steal_s"]},
        "problems": problems[:10],
    }
    if w == "refresh" and ops:
        summary["features_digest"] = ops[0].get("features_digest")
        # which recorded GBT model each iteration reproduced (0: the gate
        # passes, 1: the gate rejects it)
        summary["gbt_outcome"] = [model_outcome(op, "gbt") for op in ops if "models" in op]
    if res["trace"]:
        # share of each operation's wall time inside a span (median)
        summary["span_coverage"] = stats.median([
            sum(sp["wall_s"] for sp in op["spans"].values()) / op["wall_s"] for op in ops])
    return e2e, summary


def run_workload(workload, seed, seconds, trace, built=None):
    cp, opts = built or build()
    t0 = time.time()
    res = run_jvm(workload, seed, seconds, trace, cp, opts)
    t_jvm = time.time() - t0
    failed, problems = check_outputs(res)
    log(f"kgbench: {workload} trace={int(trace)}: harness {t_jvm:.1f} s "
        f"(set-up rounds {[round(x, 2) for x in res['setup_s']]} + {res['setup_once_s']:.2f}, "
        f"ops {sum(op['wall_s'] for op in res['ops']):.1f} s), checks {time.time() - t0 - t_jvm:.1f} s")
    e2e, summary = summarize(res, failed, problems, seconds)
    if trace:
        metrics = span_metrics(res, WORKLOADS[workload]["min_ops"])
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    final = {"correct": not failed and not problems, "attempted": len(res["ops"]),
             "failed": len(failed), "metrics": metrics}
    return summary, e2e, final


def run_all(seed, seconds):
    built = build()
    overhead = {}
    for w in WORKLOADS:
        per, named = {}, {}
        for trace in (False, True):
            summary, e2e, final = run_workload(w, seed, seconds, trace, built)
            print(json.dumps({"summary": summary}))
            if trace:
                for k, m in final["metrics"].items():
                    print(f"{w:18s} {k:34s} {m['value']:>14.6g} {m['unit']}")
            else:
                named = summary["metrics"]
            per[trace] = e2e
        for k, u in END_TO_END:
            print(f"{w:18s} {k:34s} {per[False][k]:>14.6g} {u}")
        for k, m in named.items():
            print(f"{w:18s} {k:34s} {m['value']:>14.6g} {m['unit']}")
        overhead[w] = {k: per[True][k] - per[False][k] for k, _ in END_TO_END}
    print(json.dumps({"tracing_overhead": overhead}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    a = ap.parse_args(argv)
    if a.all:
        run_all(a.seed, a.seconds)
        return
    if not a.workload:
        ap.error("--workload or --all is required")
    summary, _, final = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"summary": summary}))
    print(json.dumps(final))


if __name__ == "__main__":
    main()
