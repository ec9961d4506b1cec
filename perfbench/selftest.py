"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

From the root of a source checkout it checks that

1. the same seed writes byte-identical inputs, and another seed does not;
2. the pyarrow violation oracle equals a plain loop over the rows;
3. a deliberately corrupted output fails its workload's check, for every
   workload;
4. ``run.py`` prints every ``BENCHMARK.json`` metric with its unit, for
   every listed workload, with ``--trace 0`` and ``--trace 1``;
5. ``run.py`` in a directory holding only ``BENCHMARK.json`` and
   ``perfbench/`` exits non-zero without printing a result.

Exits 0 when every check passes.  Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

os.environ["PERFBENCH_TINY"] = "1"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
failures: list[str] = []


def report(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def digests(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def loop_violation_oracle(docs_dir: str, catalog_dir: str) -> Counter:
    """Row-at-a-time reference for ``workloads.violation_oracle``."""
    import pyarrow.parquet as pq

    refs = set(pq.read_table(catalog_dir).column("media_ref").to_pylist())
    docs = pq.read_table(docs_dir).to_pylist()
    out: Counter = Counter()
    ids = Counter(d["doc_id"] for d in docs)
    out["duplicate_doc_id"] = sum(1 for n in ids.values() if n > 1)
    for d in docs:
        spans = d["spans"]
        out["null_text_span"] += any(s["kind"] == "text" and s["text"] is None for s in spans)
        offs = [s["offset"] for s in spans]
        out["offset_out_of_order"] += any(a >= b for a, b in zip(offs, offs[1:]))
        out["dangling_media_ref"] += len({s["media_ref"] for s in spans if s["media_ref"]} - refs)
    return out


def check_inputs(spark) -> None:
    d = os.path.join(WORK, "det")
    edit = frozenset({1, 5})
    a = inputs.write_interleaved(spark, f"{d}/a", 500, 4, seed=7, edit_partitions=edit)
    b = inputs.write_interleaved(spark, f"{d}/b", 500, 4, seed=7, edit_partitions=edit)
    c = inputs.write_interleaved(spark, f"{d}/c", 500, 4, seed=8, edit_partitions=edit)
    da, db, dc = (digests(os.path.dirname(x["docs"])) for x in (a, b, c))
    report(da == db and len(da) == 5, "same seed -> byte-identical interleaved inputs")
    report(da != dc, "another seed -> different interleaved inputs")
    fa = digests(os.path.dirname(inputs.write_flat_corpus(f"{d}/fa", 300, seed=7)))
    fb = digests(os.path.dirname(inputs.write_flat_corpus(f"{d}/fb", 300, seed=7)))
    fc = digests(os.path.dirname(inputs.write_flat_corpus(f"{d}/fc", 300, seed=8)))
    report(fa == fb and fa != fc, "same seed -> byte-identical flat corpus, another seed differs")
    report(workloads.violation_oracle(a["docs"], a["catalog"]) == loop_violation_oracle(a["docs"], a["catalog"]),
           "pyarrow violation oracle equals the row loop")


def corrupt_and_check(w, out: dict, corrupt, what: str) -> None:
    """The genuine output's check adds no failure (``resume`` excepted:
    its known command failure may leave the store short); the corrupted
    output's check adds at least one."""
    before = w.failed
    w.check(out)
    genuine = w.failed - before
    corrupt(out)
    before = w.failed
    w.check(out)
    report(w.failed > before and (genuine == 0 or w.name == "resume"),
           f"{w.name}: genuine output passes its check, {what} fails it")


def delete_one(store: str, run_id: str) -> None:
    part = os.path.join(store, f"run_id={run_id}")
    os.remove(os.path.join(part, sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]))


def check_corruption(spark) -> None:
    tracer = Tracer(spark, enabled=False)
    for name, corrupt, what in (
        ("ingest", lambda o: o["summary"].update(docs=o["summary"]["docs"] + 1), "a wrong doc count"),
        ("ingest", lambda o: delete_one(w.store, "R1"), "a missing manifest file"),
        ("resume", lambda o: o.update(diff=["~ partition=999"]), "a wrong diff listing"),
        ("neardup", lambda o: o.update(dedupe_clusters=(o["dedupe_clusters"][0], o["dedupe_clusters"][1][1:])),
         "a dropped cluster row"),
        ("neardup", lambda o: o.update(fast_tier=[(a, b, j + 0.01) for a, b, j in o["fast_tier"]]),
         "a wrong pair Jaccard"),
        ("stream", lambda o: delete_one(w.store, "S"), "a missing manifest file"),
    ):
        w = workloads.WORKLOADS[name](spark, tracer, os.path.join(WORK, name), seed=11, cores=2)
        w.generate(os.path.join(w.work, "in"))
        w.prepare()
        w.reset()
        corrupt_and_check(w, w.run_once(), corrupt, what)


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    env = dict(os.environ, PERFBENCH_TINY="1")
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl["name"], "--seed", "3",
                 "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
            )
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                res = {}
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            ok = (p.returncode == 0 and set(res) == {"correct", "attempted", "failed", "metrics"}
                  and res["correct"] and res["failed"] == 0 and got == want
                  and all(isinstance(v.get("value"), (int, float)) for v in res["metrics"].values()))
            report(ok, f"{wl['name']} --trace {trace}: every {kind} metric printed with its unit, correct")
            if not ok:
                print(p.stderr[-2000:], file=sys.stderr)


def check_bare_directory() -> None:
    bare = os.path.join(WORK, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    report(p.returncode != 0 and '"correct"' not in p.stdout,
           "a directory with only BENCHMARK.json and perfbench/ exits non-zero without a result")


def main() -> int:
    try:
        spark, *_ = run.start_session("perfbench-selftest", WORK)
        try:
            check_inputs(spark)
            check_corruption(spark)
        finally:
            run.stop_session(spark)
        check_runs()
        check_bare_directory()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} check(s) failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
