"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload query_mix|corpus_build|stream_enrich \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source (see
perfbench/build.py), generates corpus_build's GenData corpus once per
version of GenData, then runs the workload in a fresh JVM on local[nproc], checks its outputs
and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything a run writes lives under .perfbench/ in the checkout; the
per-run directory is removed at the end, and a traced run's spans are
kept in .perfbench/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("query_mix", "corpus_build", "stream_enrich")
# a run, set-up included, must end well inside 180 s
RUN_GUARD_S = 165
GEN_TIMEOUT_S = 600
HEAP = "3g"

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
# the decision-ledger stages of BuildCorpus.run and BuildCorpus.incremental
BASE_STAGES = ("intake", "normalize", "embedding_route", "semantic_decon", "gate_keep",
               "decontaminate", "media_gate", "image_families", "mix_pack", "shards",
               "dup_index")
INC_STAGES = ("intake", "normalize", "exact_dup_vs_corpus", "neardup_admission", "gate_keep",
              "decontaminate", "media_gate", "image_families", "pack", "shards",
              "mixture_drift")


def per_layer_units():
    u = {}
    for t in ("events", "lineitem", "orders", "documents", "embeddings", "media"):
        u[f"tables.scan_s.{t}"] = "s"
        u[f"tables.partitions.{t}"] = "count"
    for f in ("simhash64", "minhashSig", "firstSharedBand", "dotp", "topk"):
        u[f"functions.{f}.rows_per_s"] = "1/s"
    for f in ("groupedGlobalRank", "groupedGlobalCumsumN", "globalNtile", "groupedGlobalNtile"):
        u[f"ops.{f}.s"] = "s"
        u[f"ops.{f}.jobs"] = "count"
    for f in ("Relational", "Events", "MlOps", "Dedup", "Multimodal"):
        u[f"operators.{f}.s"] = "s"
        u[f"operators.{f}.jobs"] = "count"
        u[f"operators.{f}.tasks"] = "count"
    u["memo.fit_s"] = "s"
    for k in ("write_s", "probe_s", "append_s"):
        u[f"sources.dupindex.{k}"] = "s"
    u["sources.dupindex.bytes_per_input_byte"] = "ratio"
    for st in BASE_STAGES:
        u[f"build.stage_s.{st}"] = "s"
    for st in INC_STAGES:
        u[f"build.inc_stage_s.{st}"] = "s"
    u["build.overlap"] = "ratio"
    u["build.acc_errors"] = "count"
    for p in ("enrich", "ltv", "hourly"):
        for k in ("trigger_p50_s", "trigger_p90_s", "add_batch_s", "plan_s", "wal_commit_s",
                  "state_commit_s"):
            u[f"stream.{p}.{k}"] = "s"
        u[f"stream.{p}.state_rows"] = "count"
        u[f"stream.{p}.state_bytes"] = "bytes"
    u["stream.emit_p90_s"] = "s"
    u["stream.drain_rows_per_s"] = "1/s"
    u["stream.gen_late_s"] = "s"
    u["stream.backlog_end"] = "count"
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("busy_frac", "ratio"), ("deser_s", "s"), ("shuffle_write_bytes", "bytes"),
                    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_s", "s")):
        u[f"spark.{k}"] = unit
    u["run.fail_frac"] = "ratio"
    # peak resident memory spreads 26-32% between seeds (G1 grows the
    # heap on its own schedule), wider than any end-to-end bound
    u["jvm.peak_rss_mb"] = "MB"
    for k in END_TO_END:
        u[f"trace.{k}"] = "s"
    return u


PER_LAYER = per_layer_units()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(classes, args, work, stdout):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + build.java_opts() +
           [f"-D{k}={v}" for k, v in props.items()] +
           ["-cp", cp, "perfbench.Main"] + args)
    return subprocess.Popen(cmd, stdout=stdout, stderr=subprocess.STDOUT,
                            start_new_session=True)


def stop(p):
    """Kills the JVM's process group and waits for it; returns its rusage."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        _, _, ru = os.wait4(p.pid, 0)
        return ru
    except ChildProcessError:
        return None


def wait(p, timeout):
    """Waits up to `timeout` s; returns (exit code or None, rusage)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru
        time.sleep(0.05)
    return None, stop(p)


# the shipped test tables at sf0.01 (TPC-H-like star schema, 10k
# events over 30 days, 500 documents and 500 embeddings), as the
# repository's correctness tests read them
SHIPPED = "perfbench/data/sf0.01"
# the GenData corpus of corpus_build: documents, vectors, media
CORPUS = (1500, 600, 150)


def ensure_corpus(classes):
    """The corpus_build input, generated once per version of GenData
    and per size."""
    gen = "src/main/scala/graft/GenData.scala"
    key = build.digest([gen]) + "-" + "-".join(map(str, CORPUS))
    root = os.path.join(build.STATE, "corpus", key)
    if os.path.exists(os.path.join(root, "ok")):
        return os.path.join(root, "data")
    shutil.rmtree(os.path.join(build.STATE, "corpus"), ignore_errors=True)
    os.makedirs(root)
    work = tempfile.mkdtemp(dir=build.STATE, prefix="gen-")
    try:
        with open(os.path.join(work, "log"), "wb") as out:
            p = jvm(classes, ["gen", "corpus", os.path.abspath(os.path.join(root, "data"))] +
                    [str(n) for n in CORPUS], work, out)
            code, _ = wait(p, GEN_TIMEOUT_S)
        if code != 0:
            with open(os.path.join(work, "log"), errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise build.BuildError(f"generating the corpus failed ({code})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(root, "ok"), "w").close()
    return os.path.join(root, "data")


def oracle_checks(res, tables):
    """query_mix: each oracle-backed query's output against DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{tables}/{t}')")

    def canon(rel):
        cols = sorted(c for c in rel.columns)
        rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
        norm = []
        for r in rows:
            norm.append(tuple(str(v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v)
                              for v in r))
        return cols, sorted(norm)

    checks = []
    for o in res["oracle"]:
        name = o["name"]
        try:
            got = canon(con.read_parquet(os.path.join(o["out"], "*.parquet")))
            want = canon(con.sql(o["sql"]))
            ok = got == want
            msg = f"rows={len(got[1])}" if ok else (
                f"cols spark={got[0]} oracle={want[0]}" if got[0] != want[0] else
                f"rows spark={len(got[1])} oracle={len(want[1])} "
                f"differing={len(set(got[1]) ^ set(want[1]))}")
        except Exception as e:  # a broken output or query is a failed check
            ok, msg = False, f"error: {e}"
        checks.append({"name": f"{name}.oracle", "ok": ok, "detail": msg})
        log(f"check {name}.oracle: {'ok' if ok else 'FAILED'} {msg}")
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
        data = ensure_corpus(classes) if a.workload == "corpus_build" else SHIPPED
        if not os.path.isdir(data):
            raise build.BuildError(f"no input tables under {data}")
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 1
    work = os.path.abspath(tempfile.mkdtemp(dir=build.STATE, prefix="run-"))
    traces = os.path.join(build.STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.abspath(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    result = os.path.join(work, "result.json")
    logf = os.path.join(work, "jvm.log")
    t0 = time.monotonic()
    p = None
    try:
        with open(logf, "wb") as out:
            budget = RUN_GUARD_S - 25
            p = jvm(classes, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                              os.path.abspath(data),
                              work, result, trace_out, str(budget)], work, out)
            code, ru = wait(p, RUN_GUARD_S - 10)
        with open(logf, errors="replace") as f:
            jlog = f.read()
        if code != 0 or not os.path.exists(result):
            sys.stderr.write(jlog[-8000:])
            log(f"workload JVM ended with {code} after {time.monotonic() - t0:.1f}s")
            return 1
        with open(result) as f:
            res = json.load(f)
        if a.workload == "query_mix":
            for c in oracle_checks(res, data):
                res["attempted"] += 1
                res["failed"] += 0 if c["ok"] else 1
                res["checks"].append(c)
        for e in res["errors"]:
            log(f"failed: {e}")
    finally:
        if p is not None:
            stop(p)
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"])
    missing = [k for k in END_TO_END if k not in e2e]
    if missing:
        log(f"no measurement of {missing}")
        return 1
    attempted, failed = res["attempted"], res["failed"]
    detail = res["detail"]
    for k, v in detail.items():
        print(f"{a.workload}.{k} = {json.dumps(v)}")
    print(f"{a.workload}.peak_rss_mb = {ru.ru_maxrss / 1024.0}")
    for c in res["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    if a.trace:
        layer = dict(res["layer"])
        layer["build.acc_errors"] = float(jlog.count("Failed to update accumulator"))
        layer["run.fail_frac"] = failed / attempted
        layer["jvm.peak_rss_mb"] = ru.ru_maxrss / 1024.0
        for k, v in e2e.items():
            if f"trace.{k}" in PER_LAYER:
                layer[f"trace.{k}"] = v
        unknown = sorted(set(layer) - set(PER_LAYER))
        if unknown:
            log(f"unlisted per-layer metrics: {unknown}")
            return 1
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        log(f"spans written to {trace_out}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
