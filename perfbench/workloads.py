"""The benchmark's workloads.

Each workload drives the public entry points a user calls, closed loop,
one command at a time: ``generate`` writes its seeded inputs,
``prepare`` builds any stored state, ``reset`` restores that state
before a run (untimed), ``run_once`` is the timed run, and ``check``
verifies the run's outputs (untimed).  Every command and every check is
one attempted operation; a raised command, a non-zero exit code or a
failed check is one failed operation, recorded with its exception class.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
from collections import Counter
from contextlib import redirect_stdout

import numpy as np
import pyarrow.parquet as pq

import inputs
from measure import median, slope

ALGO = "xxh64"  # the CLI's default digest

# Input sizes: large enough that per-row work shows next to the engine's
# per-job fixed cost, small enough that set-up plus a measured window
# fits the per-run time limit on a 4-core host.  PERFBENCH_TINY=1 (set
# only by selftest.py) shrinks them to check the plumbing quickly.
_TINY = os.environ.get("PERFBENCH_TINY") == "1"
N_INTERLEAVED = 2_000 if _TINY else 40_000
N_PARTITIONS = 16
N_FLAT = 300 if _TINY else 1_500
STREAM_FILES = 4            # 4 whole-partition files -> 4 micro-batches
RESUME_DONE_SHARE = 0.75    # share of R2's partitions completed before the "crash"
NEARDUP_LEGS = ("dedupe_minhash_lsh", "jaccard_pairs_exact", "dedupe_clusters", "crosscorpus_neardup")
FAST_TIER_THRESHOLD = 0.7   # ngram_jaccard_pairs' default

_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]+(?:\.[A-Z_]+)*)\]")


def _error_name(e: BaseException) -> str:
    """Exception class plus the Spark error classes in its message,
    outermost first (AQE wraps a task failure in its own class)."""
    classes = list(dict.fromkeys(_ERROR_CLASS.findall(str(e))))
    return ":".join([type(e).__name__, ">".join(classes)] if classes else [type(e).__name__])


def _read_manifest(store: str, run_id: str) -> dict[int, tuple[str, int]]:
    """``{partition_id: (digest, row_count)}`` of one stored run, read
    with pyarrow so checks start no Spark job."""
    import pyarrow as pa

    part = os.path.join(store, f"run_id={run_id}")
    try:
        t = pq.read_table(part, columns=["partition_id", "digest", "row_count"])
    except (OSError, pa.ArrowInvalid):  # a missing or emptied run reads as no rows
        return {}
    return {p: (d, n) for p, d, n in zip(*(t.column(c).to_pylist() for c in t.column_names))}


class Workload:
    name = ""
    n_docs = 0
    # warm-up runs, counted in setup_s: the first run on a cold JVM takes
    # 2-3x the steady state and the JIT keeps improving for a few more
    # runs; the median of the measured runs absorbs what is left
    warmup_runs = 1

    def __init__(self, spark, tracer, work: str, seed: int, cores: int):
        self.spark, self.tracer, self.work, self.seed, self.cores = spark, tracer, work, seed, cores
        self.attempted = 0
        self.failed = 0
        self.errors: Counter[str] = Counter()
        self.probe_metrics: dict[str, float] = {}

    # -- failure accounting ------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors[what] += 1

    def expect(self, ok: bool, what: str) -> None:
        """One output check: an attempted operation that fails when not ``ok``."""
        self.attempted += 1
        if not ok:
            self._fail(f"CheckFailed:{what}")

    def call(self, span: str, fn, *args):
        """One command: returns its result, or None when it raised."""
        self.attempted += 1
        with self.tracer.span(span):
            try:
                return fn(*args)
            except Exception as e:  # measurement boundary: count it, keep going
                self._fail(_error_name(e))
                return None

    def cli(self, span: str, *argv: str) -> list[str] | None:
        """``hashio-spark <argv>`` through ``cli.main``; returns its stdout
        lines, or None when it raised or exited non-zero."""
        from hashio_spark import cli

        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = self.call(span, cli.main, list(argv))
        if rc is None:
            return None
        if rc != 0:
            self._fail(f"ExitCode:{argv[0]}={rc}")
            return None
        return buf.getvalue().splitlines()

    # -- the workload protocol ---------------------------------------------

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def run_once(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> None:
        raise NotImplementedError

    def probes(self) -> None:
        """Standalone actions of single layers (traced runs only)."""

    def layers(self, root: dict, out: dict) -> dict[str, float]:
        """Per-layer metrics of one traced run whose root span is ``root``."""
        tr = self.tracer
        tot = tr.totals(root)
        wall = root["end"] - root["start"]
        m = {
            "spark.core_util": tot["task_s"] / (wall * self.cores),
            "spark.gc_s": tot["gc_s"],
            "python.eval_s": tot["python_run_s"],
            "python.worker_start_s": tot["python_start_s"] + tot["python_init_s"],
            "python.bytes_to_worker": tot["python_bytes_sent"],
            "python.bytes_from_worker": tot["python_bytes_received"],
            "queries._t.fanout_exchanges": tot["fanout_exchanges"],
            "caching.open_persisted_rdds": out.get("open_persisted_rdds", 0),
        }
        cmds = tr.named("cli.validate", root) + tr.named("streaming.incremental.batch", root)
        if cmds:
            per = [tr.totals(sp) for sp in cmds]
            m["plans.validate.doc_scans"] = median([p["doc_scans"] for p in per])
            m["plans.validate.task_s"] = median([p["task_s"] for p in per])
            m["plans.validate.shuffle_write_bytes"] = median([p["shuffle_write_bytes"] for p in per])
            m["plans.validate.spill_bytes"] = median([p["spill_bytes"] for p in per])
        merges = tr.named("sources.manifest_store.merge", root)
        if merges:
            per = [tr.totals(sp) for sp in merges]
            m["sources.manifest_store.merge_s"] = median([sp["end"] - sp["start"] for sp in merges])
            m["sources.manifest_store.merge_bytes_read"] = median([p["input_bytes"] for p in per])
            m["sources.manifest_store.merge_bytes_written"] = median([p["output_bytes"] for p in per])
        for span, metric in (("cli.verify", "cli.verify_s"), ("cli.diff", "cli.diff_s"),
                             ("operators.dedupe.fast_tier", "operators.dedupe.fast_tier_s"),
                             *((f"queries.{leg}", f"queries.{leg}_s") for leg in NEARDUP_LEGS)):
            spans = tr.named(span, root)
            if spans:
                m[metric] = median([sp["end"] - sp["start"] for sp in spans])
        return m

    # -- shared pieces -------------------------------------------------------

    def _noop_action(self, span: str, df) -> None:
        self.call(span, lambda: df.write.format("noop").mode("overwrite").save())
        sp = self.tracer.named(span)[-1]
        self.probe_metrics[f"{span}_s"] = sp["end"] - sp["start"]

    def _interleaved_probes(self, docs_dir: str, catalog_dir: str) -> None:
        from hashio_spark.functions.canonical import doc_digest_expr
        from hashio_spark.operators import constraints

        docs = self.spark.read.parquet(docs_dir)
        cat = self.spark.read.parquet(catalog_dir)
        self._noop_action("functions.canonical.doc_digest", docs.select(doc_digest_expr("spans", ALGO)))
        self._noop_action("operators.constraints.duplicate_keys", constraints.duplicate_keys(docs))
        self._noop_action("operators.constraints.dangling_refs", constraints.dangling_refs(docs, cat))


def violation_oracle(docs_dir: str, catalog_dir: str) -> Counter[str]:
    """Violation rows per rule, computed with pyarrow from the input
    files by the rules ``plans.validate`` documents."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = pq.read_table(docs_dir, columns=["doc_id", "spans"])
    spans = docs.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    doc = pc.list_parent_indices(spans).to_numpy()
    kind, text, ref, off = (flat.field(f) for f in ("kind", "text", "media_ref", "offset"))
    null_text = pc.and_(pc.equal(kind, "text"), pc.is_null(text)).to_numpy(zero_copy_only=False)
    offs = off.to_numpy(zero_copy_only=False)
    ooo = (doc[1:] == doc[:-1]) & (offs[:-1] >= offs[1:])
    refs = pq.read_table(catalog_dir, columns=["media_ref"]).column("media_ref")
    dangling = pc.and_(pc.is_valid(ref), pc.invert(pc.is_in(ref, value_set=refs.combine_chunks())))
    dangling = dangling.to_numpy(zero_copy_only=False)
    pairs = pa.table({"doc": doc[dangling], "ref": pc.filter(ref, pa.array(dangling))})
    ids = pc.value_counts(docs.column("doc_id").combine_chunks())
    return Counter({
        "duplicate_doc_id": int(pc.sum(pc.greater(ids.field("counts"), 1)).as_py() or 0),
        "null_text_span": len(np.unique(doc[null_text])),
        "offset_out_of_order": len(np.unique(doc[1:][ooo])),
        "dangling_media_ref": pairs.group_by(["doc", "ref"]).aggregate([]).num_rows,
    })


class Ingest(Workload):
    """``hashio-spark validate`` into a fresh manifest store."""

    name = "ingest"
    n_docs = N_INTERLEAVED
    # a run is short, so three warm-ups are cheap; after one, the measured
    # runs were still 15-20% slower than after three
    warmup_runs = 3

    def generate(self, out_dir):
        self.paths = inputs.write_interleaved(self.spark, out_dir, N_INTERLEAVED, N_PARTITIONS, self.seed)
        self.tracer.doc_paths = (self.paths["docs"],)

    def reset(self):
        self.store = os.path.join(self.work, "store")
        self.viol = os.path.join(self.work, "violations")
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.rmtree(self.viol, ignore_errors=True)

    def run_once(self):
        lines = self.cli("cli.validate", "validate", "--input", self.paths["docs"],
                         "--catalog", self.paths["catalog"], "--manifest", self.store,
                         "--run-id", "R1", "--violations-out", self.viol)
        return {"summary": json.loads(lines[-1]) if lines else None}

    def check(self, out):
        from hashio_spark.datagen import expected_violation_counts

        if not hasattr(self, "oracle"):
            self.oracle = violation_oracle(self.paths["docs"], self.paths["catalog"])
        s = out["summary"] or {}
        self.expect(s.get("docs") == self.n_docs, "ingest.docs")
        self.expect(s.get("violations") == sum(self.oracle.values()), "ingest.violations")
        got = Counter()
        if os.path.isdir(self.viol):
            got.update(pq.read_table(self.viol, columns=["rule"]).column("rule").to_pylist())
        self.expect(got == self.oracle, "ingest.violations_by_rule")
        planted = expected_violation_counts(self.n_docs)
        self.expect(got["duplicate_doc_id"] == planted["duplicate_doc_rows"] // 2, "ingest.planted_duplicates")
        self.expect(0 < got["dangling_media_ref"] <= planted["dangling_docs"], "ingest.planted_dangling")
        man = _read_manifest(self.store, "R1")
        self.expect(sorted(man) == list(range(N_PARTITIONS))
                    and sum(n for _, n in man.values()) == self.n_docs, "ingest.manifest_rows")

    def probes(self):
        self._interleaved_probes(self.paths["docs"], self.paths["catalog"])


class Resume(Workload):
    """Incremental re-verify: finish an interrupted run, then verify and
    diff it against the previous complete run, in the CLI's call order."""

    name = "resume"
    n_docs = N_INTERLEAVED

    def generate(self, out_dir):
        rng = np.random.default_rng(self.seed)
        pids = np.arange(N_PARTITIONS)
        self.edited = frozenset(int(p) for p in rng.choice(pids, size=max(1, N_PARTITIONS // 8), replace=False))
        self.done = sorted(int(p) for p in rng.choice(pids, size=round(RESUME_DONE_SHARE * N_PARTITIONS),
                                                      replace=False))
        self.a = inputs.write_interleaved(self.spark, os.path.join(out_dir, "a"), N_INTERLEAVED,
                                          N_PARTITIONS, self.seed)
        self.b = inputs.write_interleaved(self.spark, os.path.join(out_dir, "b"), N_INTERLEAVED,
                                          N_PARTITIONS, self.seed, edit_partitions=self.edited)
        self.tracer.doc_paths = (self.b["docs"],)

    def prepare(self):
        """Store = complete run R1 of the corpus + interrupted run R2 of
        the edited copy covering the ``done`` partitions; a separate
        store holds a clean full R2 as the expected result."""
        self.base = os.path.join(self.work, "store-base")
        self.expected_store = os.path.join(self.work, "store-expected")
        for d in (self.base, self.expected_store):
            shutil.rmtree(d, ignore_errors=True)
        self.cli("setup.validate", "validate", "--input", self.a["docs"], "--catalog", self.a["catalog"],
                 "--manifest", self.base, "--run-id", "R1")
        partial = [a for p in self.done for a in ("--input", inputs.partition_file(self.b["docs"], p))]
        self.cli("setup.validate", "validate", *partial, "--catalog", self.b["catalog"],
                 "--manifest", self.base, "--run-id", "R2")
        self.cli("setup.validate", "validate", "--input", self.b["docs"], "--catalog", self.b["catalog"],
                 "--manifest", self.expected_store, "--run-id", "R2")
        self.expected = _read_manifest(self.expected_store, "R2")
        pids = pq.read_table(self.b["docs"], columns=["partition_id"]).column("partition_id").to_numpy()
        self.pending_docs = int(np.isin(pids, self.done, invert=True).sum())

    def reset(self):
        self.store = os.path.join(self.work, "store")
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.base, self.store)

    def run_once(self):
        out = {}
        out["validate"] = self.cli("cli.validate", "validate", "--input", self.b["docs"],
                                   "--catalog", self.b["catalog"], "--manifest", self.store,
                                   "--run-id", "R2", "--resume")
        for cmd in ("verify", "diff"):
            out[cmd] = self.cli(f"cli.{cmd}", cmd, "--manifest", self.store,
                                "--run-id", "R1", "--other-run", "R2")
        return out

    def check(self, out):
        got = _read_manifest(self.store, "R2")
        self.expect(got == self.expected, "resume.r2_manifest")
        self.expect(out["verify"] is not None and set(out["verify"])
                    == {f"violation partition={p}" for p in self.edited}, "resume.verify")
        self.expect(out["diff"] is not None and set(out["diff"])
                    == {f"~ partition={p}" for p in self.edited}, "resume.diff")

    def probes(self):
        from hashio_spark.sources.manifest_store import ManifestStore

        self._interleaved_probes(self.b["docs"], self.b["catalog"])
        self.reset()
        store = ManifestStore(self.spark, self.store)
        span = "sources.manifest_store.pending_partitions"
        self._noop_action(span, store.pending_partitions(self.spark.read.parquet(self.b["docs"]), "R2", ALGO))
        self.tracer.harvest()
        rows = self.tracer.totals(self.tracer.named(span)[-1])["doc_scan_rows"]
        self.probe_metrics["sources.manifest_store.scan_amplification"] = rows / max(self.pending_docs, 1)


class NearDup(Workload):
    """The registry's near-dup legs, then the operator tier, on a flat
    text corpus with planted near-copies."""

    name = "neardup"
    n_docs = N_FLAT

    def generate(self, out_dir):
        self.sf_dir = os.path.join(out_dir, "flat")
        self.path = inputs.write_flat_corpus(self.sf_dir, N_FLAT, self.seed)
        self.tracer.doc_paths = (self.path,)

    def run_once(self):
        from hashio_spark import caching
        from hashio_spark.operators.dedupe import lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs
        from hashio_spark.queries import REGISTRY

        out = {}

        def leg(name):
            df = REGISTRY[name][0](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            caching.release(df)
            return df.columns, rows

        for name in NEARDUP_LEGS:
            out[name] = self.call(f"queries.{name}", leg, name)

        def fast_tier():
            docs = self.spark.read.parquet(self.path)
            cand = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"))
            pairs = ngram_jaccard_pairs(docs, cand, "doc_id", "text", threshold=FAST_TIER_THRESHOLD).collect()
            caching.release(cand)
            return [tuple(r) for r in pairs]

        out["fast_tier"] = self.call("operators.dedupe.fast_tier", fast_tier)
        return out

    def _oracle_hashes(self) -> dict[str, str]:
        import duckdb
        from oracle_check import frame_hash

        from hashio_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            hashes = {}
            for name in NEARDUP_LEGS:
                cur = con.execute(REGISTRY[name][1])
                hashes[name] = frame_hash([c[0] for c in cur.description], cur.fetchall())
            return hashes
        finally:
            con.close()

    def check(self, out):
        from oracle_check import frame_hash

        if not hasattr(self, "oracle"):
            self.oracle = self._oracle_hashes()
            text = pq.read_table(self.path, columns=["doc_id", "text"]).to_pydict()
            self.shingles = {}
            for i, t in zip(text["doc_id"], text["text"]):
                toks = re.split(r"\s+", t)
                self.shingles[i] = {" ".join(toks[k:k + 3]) for k in range(len(toks) - 2)}
        for name in NEARDUP_LEGS:
            got = out.get(name)
            self.expect(got is not None and frame_hash(*got) == self.oracle[name], f"neardup.{name}")
        pairs = out.get("fast_tier") or []
        self.verified_pairs = len(pairs)
        ok = bool(pairs) and len(set((a, b) for a, b, _ in pairs)) == len(pairs)
        for a, b, j in pairs:
            sa, sb = self.shingles[a], self.shingles[b]
            exact = len(sa & sb) / max(len(sa | sb), 1)
            ok = ok and a < b and exact >= FAST_TIER_THRESHOLD and abs(exact - j) < 1e-9
        self.expect(ok, "neardup.fast_tier_pairs")

    def probes(self):
        from hashio_spark import caching
        from hashio_spark.operators.dedupe import lsh_candidate_pairs, minhash_signatures

        cand = lsh_candidate_pairs(minhash_signatures(self.spark.read.parquet(self.path), "doc_id", "text"))
        n = self.call("operators.dedupe.lsh_candidates", cand.count) or 0
        caching.release(cand)
        self.probe_metrics.update({
            "operators.dedupe.lsh_candidates": n,
            "operators.dedupe.verified_pairs": self.verified_pairs,
            "operators.dedupe.lsh_precision": self.verified_pairs / n if n else 0.0,
        })


class Stream(Workload):
    """The ingest corpus replayed as a file stream through
    ``stream_validation``, one whole-partition file per micro-batch."""

    name = "stream"
    n_docs = N_INTERLEAVED

    def generate(self, out_dir):
        self.paths = inputs.write_interleaved(self.spark, out_dir, N_INTERLEAVED, N_PARTITIONS, self.seed,
                                              files=STREAM_FILES)
        self.tracer.doc_paths = (self.paths["docs"],)

    def prepare(self):
        self.schema = self.spark.read.parquet(self.paths["docs"]).schema
        self.catalog = self.spark.read.parquet(self.paths["catalog"])

    def reset(self):
        self.store = os.path.join(self.work, "store")
        self.ckpt = os.path.join(self.work, "checkpoint")
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def run_once(self):
        from hashio_spark.sources.manifest_store import ManifestStore
        from hashio_spark.streaming.incremental import stream_validation

        def replay():
            src = (self.spark.readStream.schema(self.schema)
                   .option("maxFilesPerTrigger", 1).parquet(self.paths["docs"]))
            q = stream_validation(src, ManifestStore(self.spark, self.store), "S",
                                  algo=ALGO, catalog=self.catalog, checkpoint_dir=self.ckpt)
            q.awaitTermination()
            return [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
                    for p in q.recentProgress if p["numInputRows"] > 0]

        return {"batches": self.call("streaming.incremental.stream_validation", replay)}

    def check(self, out):
        if not hasattr(self, "expected"):
            ref = os.path.join(self.work, "store-expected")
            shutil.rmtree(ref, ignore_errors=True)
            self.cli("check.validate", "validate", "--input", self.paths["docs"],
                     "--catalog", self.paths["catalog"], "--manifest", ref, "--run-id", "S")
            self.expected = _read_manifest(ref, "S")
        self.expect(len(out["batches"] or []) == STREAM_FILES, "stream.batches")
        got = _read_manifest(self.store, "S")
        self.expect(bool(got) and got == self.expected, "stream.manifest_equals_batch")

    def probes(self):
        self._interleaved_probes(self.paths["docs"], self.paths["catalog"])

    def layers(self, root, out):
        m = super().layers(root, out)
        batches = out.get("batches") or []
        if batches:
            ms = [b[2] for b in batches]
            m["streaming.incremental.batches"] = len(batches)
            m["streaming.incremental.batch_p50_ms"] = median(ms)
            m["streaming.incremental.batch_ms_slope"] = slope([float(b[0]) for b in batches], ms)
            m["streaming.incremental.rows_per_s"] = self.n_docs / (sum(ms) / 1000.0)
            # the source counts a row once per scan of the batch, so this is
            # how many times each micro-batch is read
            m["streaming.incremental.source_reads_per_row"] = sum(b[1] for b in batches) / self.n_docs
        return m


WORKLOADS = {w.name: w for w in (Ingest, Resume, NearDup, Stream)}
