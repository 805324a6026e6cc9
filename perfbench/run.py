"""Seeded state-store benchmark for graft.

    python3 perfbench/run.py --workload agg_bigstate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the repo from source (see build.py), runs one workload in its own
JVM with `local[4]` and 4 shuffle partitions, checks the output, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` they are the per-layer metrics of a traced phase plus the
tracing overhead. The line before it (`"info"`) carries every metric the
run measured, the seed, host load and versions. README.md describes the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.BUILD
CORES = 4
JVM_TIMEOUT_S = 170
WORKLOADS = ["agg_bigstate", "join_smallbatch", "ttl_restart", "corpus_pipeline"]
STORES_PER_PARTITION = {"agg_bigstate": 1, "join_smallbatch": 4, "ttl_restart": 1}

# metric -> unit, for the end-to-end figures every workload reports
E2E_UNITS = {
    "throughput_rows_s": "rows/s", "batch_ms_p50": "ms", "batch_ms_p90": "ms",
    "peak_rss_mb": "MB", "native_rss_mb": "MB", "setup_s": "s",
}
# measured on some workloads only; reported on the info line, never gated
INFO_UNITS = {
    "latency_ms_p50": "ms", "latency_ms_p90": "ms", "recover_s": "s", "wall_s": "s",
    "error_rate": "ratio",
}

# per-layer metrics measured from outside with a caveat (see README.md)
NOT_MEASURED = {
    "state.get.hit_ratio": "a hit is a non-null get; the provider's block-cache hit rate is internal to RocksDB",
    "state.snapshot_bytes_uploaded": "lifetime counter per provider instance, summed over the last metrics each store reported",
}


def layer_unit(name: str) -> str:
    if name.startswith("trace_overhead."):
        return E2E_UNITS[name.split(".", 1)[1]]
    last = name.rsplit(".", 1)[-1]
    if last in ("hit_ratio", "busy_ratio", "upload_bytes_per_put_byte"):
        return "ratio"
    if last == "ckpt_bytes_per_row":
        return "B/row"
    if last == "ms" or last.startswith("ms_") or last.endswith("_ms"):
        return "ms"
    if "bytes" in last:
        return "B"
    if "rows" in last.lower():
        return "rows"
    return "count"


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, workload, seed, seconds, trace, work, *, cores=CORES, provider="graft",
            smoke=False, drop_one_row=False, setup_reps=3):
    """One workload in a fresh JVM; returns its result document."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores), "--provider", provider,
            "--work", str(work), "--out", str(out), "--smoke", "1" if smoke else "0",
            "--drop-one-row", "1" if drop_one_row else "0", "--setup-reps", str(setup_reps)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(work))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{workload}: JVM timed out; see {work / 'jvm.log'}")
    logs = OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    shutil.copy(work / "jvm.log", logs / f"{work.name}.log")
    if rc != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{workload}: JVM exited {rc}\n{tail}")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- corpus oracle

def corpus_oracle_check(res):
    """Compare the first pass of each corpus query with its DuckDB oracle
    (`SparkEntry.oracleSql`), cached per generated corpus."""
    import duckdb

    sizes = res["sizes"]
    docs = Path(sizes["corpus_dir"]) / "documents.parquet"
    files = sorted(docs.glob("*.parquet"))
    h = hashlib.sha256()
    for f in files:
        h.update(f.read_bytes())
    checks, failed = [], 0
    for name_file in sorted(Path(sizes["output_dir"]).glob("*.json")):
        got = json.loads(name_file.read_text())
        key = f"{name_file.stem}-{h.hexdigest()[:16]}-{hashlib.sha256(got['oracle_sql'].encode()).hexdigest()[:12]}"
        cache = OUT / "oracle" / f"{key}.json"
        if cache.is_file():
            want = json.loads(cache.read_text())
        else:
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            con.execute(f"SET temp_directory = '{OUT / 'duckdb-tmp'}'")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
            want = [[None if v is None else str(v) for v in row] for row in con.execute(got["oracle_sql"]).fetchall()]
            con.close()
            cache.parent.mkdir(parents=True, exist_ok=True)
            cache.write_text(json.dumps(want))
        ok = sorted(map(tuple, got["rows"])) == sorted(map(tuple, want))
        failed += 0 if ok else 1
        checks.append({"name": f"oracle_{name_file.stem}", "ok": ok,
                       "detail": f"spark {len(got['rows'])} rows, duckdb {len(want)} rows"})
    return checks, failed


# ---------------------------------------------------------------- metrics

def check_result(workload, res):
    """(attempted, failed, checks) of one phase, the oracle included."""
    checks = list(res["checks"])
    failed = res["failed"]
    if workload == "corpus_pipeline":
        c, f = corpus_oracle_check(res)
        checks += c
        failed += f
    return res["attempted"], failed, checks


def e2e(doc, res):
    m = {k: res[k] for k in E2E_UNITS if k in res}
    m["setup_s"] = statistics.median(doc["setup_s"])
    return m


def info_metrics(workload, res, attempted, failed):
    m = {}
    if workload == "join_smallbatch":
        m["latency_ms_p50"] = res["latency_ms_p50"]
        m["latency_ms_p90"] = res["latency_ms_p90"]
    if workload == "ttl_restart":
        m["recover_s"] = res["recover_s"]
    if workload == "corpus_pipeline":
        m["wall_s"] = res["wall_s"] / max(1, res["ops"])
    m["error_rate"] = failed / max(1, attempted)
    return m


def references(classpath, workload, seed, seconds):
    """Reference rows of the traced run: Spark's built-in RocksDB provider
    under the same confs, and agg_bigstate single-threaded. Never gated."""
    rows = {}
    plans = []
    if workload in ("agg_bigstate", "join_smallbatch"):
        plans.append(("builtin_provider", dict(provider="builtin")))
    if workload == "agg_bigstate":
        plans.append(("local_1", dict(cores=1)))
    for name, kw in plans:
        work = OUT / "runs" / f"{workload}-ref-{name}"
        try:
            doc = run_jvm(classpath, workload, seed, seconds / 2, False, work, setup_reps=1, **kw)
            res = doc["result"]
            a, f, _ = check_result(workload, res)
            rows[name] = {**e2e(doc, res), **info_metrics(workload, res, a, f), "failed": f,
                          "sizes": res["sizes"]}
        except RuntimeError as e:
            rows[name] = {"error": str(e).splitlines()[0]}
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return rows


def run_once(args):
    classpath = build.build()
    load_start = os.getloadavg()[0]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = OUT / "runs" / tag
    doc = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace == 1, work)
    res = doc["result"]
    attempted, failed, checks = check_result(args.workload, res)
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "cores_used": doc["cores"], "shuffle_partitions": doc["shuffle_partitions"],
        "versions": doc["versions"], "sizes": res["sizes"], "checks": checks,
        "setup_s_reps": doc["setup_s"], "ops_ms": res["ops_ms"], "rss_at_start_mb": doc["rss_at_start_mb"],
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e(doc, res).items()},
    }
    for k, v in info_metrics(args.workload, res, attempted, failed).items():
        info["metrics"][k] = {"value": v, "unit": INFO_UNITS[k]}
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e(doc, res).items()}
    if args.trace == 1:
        tr = doc["traced"]
        ta, tf, tchecks = check_result(args.workload, tr)
        attempted += ta
        failed += tf
        checks += tchecks
        plain = e2e(doc, res)
        traced = {k: tr[k] for k in E2E_UNITS if k in tr}
        traced["setup_s"] = doc["traced_setup_s"]
        # both phases share one process: compare each phase's own RSS peak
        for phase, m in (("plain", plain), ("traced", traced)):
            m["peak_rss_mb"] = doc["phase_rss_peak_mb"][phase]
            m["native_rss_mb"] = m["peak_rss_mb"] - doc["rss_at_start_mb"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in doc["layers"].items()}
        for k in E2E_UNITS:
            metrics[f"trace_overhead.{k}"] = {"value": traced[k] - plain[k], "unit": E2E_UNITS[k]}
        trace_dir = OUT / "traces" / tag
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
        shutil.copy(doc["spans_file"], trace_dir / "spans.jsonl")
        info["trace"] = {"spans": doc["spans"], "spans_file": str((trace_dir / "spans.jsonl").relative_to(ROOT)),
                         "traced_checks": tchecks,
                         "not_measured": NOT_MEASURED}
        info["references"] = references(classpath, args.workload, args.seed, args.seconds)
        (trace_dir / "layers.json").write_text(json.dumps({"metrics": metrics, "info": info}, indent=1))
    info["loadavg_1m"] = {"start": load_start, "end": os.getloadavg()[0]}
    info["metrics"]["error_rate"]["value"] = failed / max(1, attempted)
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and all(c["ok"] for c in checks)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


# ---------------------------------------------------------------- self-test

def selftest():
    """Smoke-sized proofs: (1) the traced and untraced phases of each stream
    workload give identical outputs and the wrapper commits once per batch,
    partition and store; (2) every output check catches one dropped row."""
    classpath = build.build()
    ok = True
    for w in WORKLOADS:
        work = OUT / "runs" / f"selftest-{w}"
        doc = run_jvm(classpath, w, 7, 5, True, work, smoke=True, setup_reps=1)
        plain, traced = doc["result"], doc["traced"]
        _, pf, pc = check_result(w, plain)
        _, tf, tc = check_result(w, traced)
        good = pf == 0 and tf == 0 and all(c["ok"] for c in pc + tc)
        msg = [f"checks {'pass' if good else 'FAIL'}"]
        if w in STORES_PER_PARTITION:
            common = min(len(plain["output_digest"]), len(traced["output_digest"]))
            same = common > 0 and plain["output_digest"][:common] == traced["output_digest"][:common]
            spans = [json.loads(l) for l in open(doc["spans_file"])]
            n = traced["committed_batches"]
            commits = [(s["store"], s["version"]) for s in spans
                       if s["layer"] == "state" and s["name"] == "commit" and 0 <= s["version"] < n]
            want = n * CORES * STORES_PER_PARTITION[w]
            # every call counts (a double commit fails), and every (store,
            # version) is present (a missing one fails)
            good = good and same and len(commits) == want == len(set(commits))
            msg.append(f"outputs {'identical' if same else 'DIFFER'}")
            msg.append(f"commits {len(commits)} calls, {len(set(commits))} distinct / expected {want} ({n} batches)")
        shutil.rmtree(work, ignore_errors=True)
        doc = run_jvm(classpath, w, 7, 5, False, work, smoke=True, drop_one_row=True, setup_reps=1)
        _, df, dc = check_result(w, doc["result"])
        caught = df > 0 and not all(c["ok"] for c in dc)
        msg.append(f"dropped row {'caught' if caught else 'MISSED'}")
        shutil.rmtree(work, ignore_errors=True)
        good = good and caught
        ok = ok and good
        print(f"{'PASS' if good else 'FAIL'} {w}: " + "; ".join(msg), flush=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    try:
        if args.selftest:
            return selftest()
        if not args.workload:
            ap.error("--workload is required")
        run_once(args)
        return 0
    except (build.BuildError, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
