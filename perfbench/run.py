#!/usr/bin/env python3
"""Stage-by-stage pipeline benchmark for graft.

    python3 perfbench/run.py --workload <abstracts|fulltext|curation> \
        --seed <n> --seconds <s> --trace <0|1> [--plant-mismatch <stage>]

Run from the root of a source checkout. The first run builds graft and the
harness with sbt into .bench_build/; later runs reuse the build while the
sources are unchanged. Each run:

  1. generates the workload's inputs from the seed (gen.py);
  2. runs the harness JVM, timing process start to SparkSession-ready
     (setup_s): one cold pass, warm passes for --seconds, then an untimed
     gate pass that writes the oracle-checked outputs as parquet
     (see scala/graftbench/PipelineBench.scala);
  3. runs each oracle-backed stage's SparkEntry oracleSql statement in DuckDB
     while the gate pass runs, checks the gate pass's outputs against them,
     and checks the curation outputs against the generator's ground truth;
  4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics with --trace 1.

--plant-mismatch drops one row of the named stage's output before the oracle
compare, to show that the gate catches it.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

# Pinned process shape: cores (local[N], shuffle partitions N) and heap.
CORES = 4
HEAP = "2g"
# a run must end within this many seconds (the build is extra)
RUN_BUDGET_S = 170
# the stage spans of a traced pass must cover its wall time (clearing the
# output directory to the last hygiene check) within this share
STAGE_SUM_TOLERANCE = 0.05

TEXT_STAGES = ["textops.filter", "textops.sentences", "abbrev.detect", "concepts.recognize",
               "concepts.postprocess", "cooccur.units_doc", "cooccur.metrics_doc",
               "cooccur.units_sent", "cooccur.metrics_sent", "sentpairs.extract",
               "exports.bionlp"]
UPDATE_STAGES = ["xmlingest.parse", "etl.upsert_docs", "concepts.changed", "etl.upsert_annots"]
CURATION_STAGES = ["dedup.exact", "dedup.candidates", "dedup.components",
                   "textstats.quality", "textstats.decontaminate"]
STAGES = {"abstracts": TEXT_STAGES + UPDATE_STAGES, "fulltext": TEXT_STAGES,
          "curation": CURATION_STAGES}
# stages checked over the generated documents; the other text stages are
# checked over the filter's survivors
RAW_INPUT_STAGES = {"textops.filter", "etl.upsert_docs"} | set(CURATION_STAGES)
QUANTITIES = ["wall_s", "plan_s", "task_s", "shuffle_bytes", "spill_bytes", "rows_out"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/scala/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile graft plus the harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no graft sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        except subprocess.TimeoutExpired:
            die("build timed out")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "sbt-target" not in lines[-1]:
        die(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; return (dir, properties, truth)."""
    import gen
    h = hashlib.sha256()
    for f in ("gen.py", "profile.json"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    # a changed generator makes new inputs
    data = os.path.join(BUILD, "data", f"{workload}-s{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(data, "properties.json")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, data)
    with open(done) as f:
        props = json.load(f)
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    return data, props, truth


class Jvm:
    """One harness process; `ready_s` is process start to session-ready."""

    def __init__(self, cp, work, args, deadline):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
               + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graftbench.PipelineBench", "--cores", str(CORES), "--work", work]
               + args)
        self.err = open(os.path.join(work, "jvm.log"), "a")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=self.err,
                                     text=True)
        # past the run budget the process is killed, so its stdout ends
        self.killer = threading.Timer(max(0.0, deadline - t0), self.proc.kill)
        self.killer.daemon = True
        self.killer.start()
        if not self.wait_for("READY"):
            self.wait()
            die(f"harness did not start (see {os.path.join(work, 'jvm.log')})")
        self.ready_s = time.monotonic() - t0

    def wait_for(self, marker):
        """Read the harness's stdout up to the line `marker`; False if it
        ended first."""
        for line in self.proc.stdout:
            if line.strip() == marker:
                return True
        return False

    def wait(self):
        for _ in self.proc.stdout:
            pass
        rc = self.proc.wait()
        timed_out = not self.killer.is_alive()
        self.killer.cancel()
        self.err.close()
        if timed_out:
            die("harness exceeded the run budget")
        return rc


def read_parquet_dir(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason (the check_oracle.py rules)."""
    s, d = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"schema spark={list(s.columns)} oracle={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} oracle={len(d)}"
    if not s.equals(d):
        for c in s.columns:
            neq = ~(s[c].eq(d[c]) | (s[c].isna() & d[c].isna()))
            if neq.any():
                i = neq.idxmax()
                return f"values {c}[{i}] spark={s[c][i]!r} oracle={d[c][i]!r}"
        return "values differ"
    return None


def components(con, pairs):
    """(doc_id, cluster_id) for every document: the smallest doc_id of its
    connected component under the pairs, itself when it has no pair."""
    import pandas as pd
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = con.execute("SELECT doc_id FROM documents").fetchdf()["doc_id"]
    return pd.DataFrame({"doc_id": ids, "cluster_id": [find(int(i)) for i in ids]}).astype("int64")


def connect(data, work):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {CORES}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    raw = os.path.join(data, "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents_raw AS SELECT * FROM read_parquet('{raw}')")
    return con


def oracle_frames(con, out_dir, oracles):
    """Each oracle-checked stage's expected rows, from its oracle SQL in
    DuckDB, or the error that stopped the oracle."""
    frames = {}
    for key, query in oracles.items():
        # each stage is checked over the input it read
        if key in RAW_INPUT_STAGES:
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_raw")
        else:
            f = sorted(glob.glob(os.path.join(out_dir, "textops.filter", "*.parquet")))
            con.execute(f"""CREATE OR REPLACE VIEW documents AS
                SELECT f.doc_id, f.actionable_text AS text, d.lang, d.source,
                       f.n_chars_actionable AS n_chars
                FROM read_parquet({f!r}) f JOIN documents_raw d USING (doc_id)""")
        try:
            df = con.execute(query["sql"]).fetchdf()
            frames[key] = components(con, df) if key == "dedup.components" else df
        except Exception as e:  # an oracle that cannot run is a failed check
            frames[key] = f"{type(e).__name__}: {str(e)[:200]}"
    return frames


def gate(con, workload, out_dir, oracles, frames, truth, plant):
    """Oracle and ground-truth checks over the gate pass's outputs; returns
    (checks run, failures as (name, reason), per-layer extras)."""
    failures, checks = [], 0
    outputs = {key: os.path.join(out_dir, key) for key in STAGES[workload]}
    for key, query in oracles.items():
        checks += 1
        expected = frames.get(key, "the oracle did not run")
        try:
            spark_df = read_parquet_dir(con, outputs[key])
            if spark_df is None:
                failures.append((key, f"no output for oracle {query['name']}"))
                continue
            if plant == key:
                spark_df = spark_df.iloc[1:]
            reason = expected if isinstance(expected, str) else compare(spark_df, expected)
        except Exception as e:
            reason = f"{type(e).__name__}: {str(e)[:200]}"
        if reason:
            failures.append((key, f"oracle {query['name']}: {reason}"))
    extras = {}
    if workload == "curation":
        fam = {}
        for i, members in enumerate(truth["families"]):
            for d in members:
                fam[d] = i
        cands = read_parquet_dir(con, outputs["dedup.candidates"])
        if cands is not None and len(cands):
            true_pairs = sum(1 for a, b in zip(cands["doc_a"], cands["doc_b"])
                             if a in fam and fam.get(b) == fam[a])
            extras["dedup.candidates.precision"] = true_pairs / len(cands)
        checks += 1
        flagged = read_parquet_dir(con, outputs["textstats.decontaminate"])
        missed = set(truth["contaminated"]) - set(flagged["doc_id"] if flagged is not None else [])
        if missed:
            failures.append(("textstats.decontaminate",
                             f"{len(missed)} contaminated docs not flagged"))
    con.close()
    return checks, failures, extras


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(STAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-mismatch", default=None)
    a = ap.parse_args()

    t0 = time.monotonic()
    phases = {}

    def phase(name):
        phases[name] = round(time.monotonic() - t0 - sum(phases.values()), 3)

    cp = build()
    phase("build")
    deadline = time.monotonic() + RUN_BUDGET_S
    data, props, truth = inputs(a.workload, a.seed)
    props["input_bytes"] = sum(os.path.getsize(f) for f in
                               glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True))
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    phase("inputs")

    j = Jvm(cp, work, ["--workload", a.workload, "--data", data,
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
    if not j.wait_for("TIMED"):
        j.wait()
        die(f"harness failed (see {os.path.join(work, 'jvm.log')})")
    phase("harness")

    def records():
        with open(os.path.join(work, "passes.jsonl")) as f:
            return [json.loads(l) for l in f if l.strip()]
    run = next(r for r in records() if r["kind"] == "run")
    # the oracles run in DuckDB while the harness makes its untimed gate pass
    out_dir = os.path.join(work, "pass")
    con = connect(data, work)
    frames = {}
    oracles = threading.Thread(target=lambda: frames.update(
        oracle_frames(con, out_dir, run["oracles"])))
    oracles.start()
    done = j.wait_for("DONE")
    oracles.join()
    if not done:
        j.wait()
        die(f"harness failed in its gate pass (see {os.path.join(work, 'jvm.log')})")
    passes = [r for r in records() if r["kind"] != "run"]
    violations = sorted({v for p in passes for v in p["violations"]})
    if violations:
        j.wait()
        die("measurement hygiene broken: " + "; ".join(violations))

    stage_calls = [s for p in passes for s in p["stages"]]
    errors = [(s["stage"], s["error"]) for s in stage_calls if s["error"]]
    checks, mismatches, extras = gate(con, a.workload, out_dir, run["oracles"], frames, truth,
                                      a.plant_mismatch)
    if j.wait() != 0:
        die(f"harness failed (see {os.path.join(work, 'jvm.log')})")
    phase("gate")
    failures = errors + mismatches

    cold = next(p for p in passes if p["kind"] == "cold")
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in passes if p["kind"] == "traced"]
    if a.trace == 0:
        metrics = {
            "setup_s": (j.ready_s, "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "pass_s": (median([p["wall_s"] for p in warm]), "s"),
            "peak_rss_mb": (run["peak_rss_mb"], "MB"),
        }
    else:
        metrics = per_layer(traced, warm, props, extras)
        checks += 1
        if not 1 - STAGE_SUM_TOLERANCE <= metrics["trace.stage_sum_frac"][0] <= 1:
            failures.append(("trace", "stage wall times do not add up to the pass wall time"))
    attempted = len(stage_calls) + checks
    for name, why in failures:
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    config = {k: run[k] for k in ("cores", "shuffle_partitions", "heap_max_mb", "master",
                                  "spark", "java")}
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "config": config,
               "inputs": props, "failed_frac": len(failures) / attempted,
               "failures": failures, "phases_s": phases}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(dict(summary, metrics=metrics), f, indent=1)
    print(json.dumps({"config": config, "failed_frac": summary["failed_frac"]}))
    shutil.rmtree(os.path.join(work, "pass"), ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def per_layer(traced, warm, props, extras):
    """Medians over the traced passes; stages a workload does not run read 0."""
    m = {}
    by_stage = {}
    for p in traced:
        for s in p["stages"]:
            by_stage.setdefault(s["stage"], []).append(s)
    units = {"wall_s": "s", "plan_s": "s", "task_s": "s", "shuffle_bytes": "B",
             "spill_bytes": "B", "rows_out": "rows"}
    for key in TEXT_STAGES + UPDATE_STAGES + CURATION_STAGES:
        for q in QUANTITIES:
            m[f"{key}.{q}"] = (median([s[q] for s in by_stage.get(key, [])]), units[q])
    rec = median([s["rows_out"] for s in by_stage.get("concepts.recognize", [])])
    pp = median([s["rows_out"] for s in by_stage.get("concepts.postprocess", [])])
    m["concepts.postprocess.kept_frac"] = (pp / rec if rec else 0.0, "ratio")
    m["dedup.candidates.precision"] = (extras.get("dedup.candidates.precision", 0.0), "ratio")
    m["dedup.components.jobs"] = (median([s["jobs"] for s in by_stage.get("dedup.components", [])]),
                                  "count")
    m["sinks.bytes_per_input_byte"] = (
        median([p["sink_bytes"] for p in traced]) / props["input_bytes"], "ratio")
    m["jvm.gc_s"] = (median([p["gc_s"] for p in traced]), "s")
    traced_pass = median([p["wall_s"] for p in traced])
    m["trace.pass_s"] = (traced_pass, "s")
    m["trace.overhead_frac"] = (traced_pass / median([p["wall_s"] for p in warm]) - 1, "ratio")
    m["trace.stage_sum_frac"] = (
        median([sum(s["wall_s"] for s in p["stages"]) / p["wall_s"] for p in traced]), "ratio")
    return m


if __name__ == "__main__":
    main()
