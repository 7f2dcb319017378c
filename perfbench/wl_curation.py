"""``curation_corpus``: the operator and index layers on a seeded
natural corpus, five ops per pass.

- ``curate``: ``curate()`` with normalize, exact, near-dup and quality
  stages. The near-dup stage uses exact n-gram Jaccard pairs (threshold
  0.3, blocked by language) into connected components, the
  ``dedup_cluster_components`` shape.
- ``dedup_apply``, ``url_apply``, ``compact``, ``read_union``: the
  incremental-index write path. A history of ``HISTORY_BATCHES``
  batches of base-corpus documents is appended once per checkout (the
  build step) with the program's own ``dedup_index_apply`` /
  ``url_index_apply``. Each pass restores that history (a file copy,
  untimed), appends the seed's batch to both indexes, which dedups it
  (MinHash) within itself and against the history, then compacts the
  dedup index (merging the history deltas) and counts the committed
  unions.

The traced run also times the pairs, the components and an exact
cosine top-k over bag-of-words embeddings on their own.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import corpus, harness
from perfbench.harness import CACHE, NPROC, WrongOutput

DOCS = 160
PROBES_EVERY = 8  # every 8th document is a top-k probe
STAGES = ["input", "normalize", "exact_dedup", "near_dedup", "quality"]
PAIRS = {"block_cols": ["lang"], "threshold": 0.3}

BATCH_DOCS = 100
HISTORY_BATCHES = 2
HISTORY_EVERY = 5  # base documents with doc_id % 5 == 0 form the history
HISTORY_DOCS = corpus.BASE_DOCS // HISTORY_EVERY


def _tree_size(path: str, since: float = 0.0) -> tuple[int, int]:
    """(files, bytes) under ``path``, counting files modified at or after
    ``since`` only."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


def build_history() -> str:
    """The cached index history: the base corpus's documents with
    ``doc_id % HISTORY_EVERY == 0``, appended in ``HISTORY_BATCHES``
    batches to a dedup and a URL index. Built with the program's own
    index code, once per checkout; returns its directory."""
    start = lambda: harness.start_spark("perfbench-build")  # noqa: E731
    corpus.ensure_base(start)
    path = os.path.join(CACHE, "inputs", f"index-history-{corpus.BASE_DOCS}-{HISTORY_BATCHES}")
    if os.path.exists(os.path.join(path, "_done")):
        return path
    from pyspark.sql import functions as F

    from erpl_web_spark.operators.dedup import dedup_index_apply
    from erpl_web_spark.operators.url_index import url_index_apply

    shutil.rmtree(path, ignore_errors=True)
    spark = start()
    base = spark.read.parquet(corpus.base_path()).select(
        "doc_id", "text",
        F.concat(F.lit("https://site"), (F.col("doc_id") % 37).cast("string"),
                 F.lit(".example/doc/"), F.col("doc_id").cast("string")).alias("url"))
    for b in range(HISTORY_BATCHES):
        batch = base.where(F.col("doc_id") % (HISTORY_EVERY * HISTORY_BATCHES) == b * HISTORY_EVERY)
        dedup_index_apply(batch, b, os.path.join(path, "dedup"))
        url_index_apply(batch, b, os.path.join(path, "url"))
    spark.stop()
    open(os.path.join(path, "_done"), "w").close()
    return path


class CurationCorpus(harness.Workload):
    name = "curation_corpus"

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.reference: dict[str, tuple[int, int]] = {}
        self.index_reference: tuple | None = None
        self.stage_s: dict[str, list[float]] = {s: [] for s in STAGES}
        self.layer: dict[str, list[float]] = {}
        self.dropped = 0
        self.root = os.path.join(CACHE, "index", f"s{seed}")
        self.dedup_path = os.path.join(self.root, "dedup")
        self.url_path = os.path.join(self.root, "url")

    def build(self) -> None:
        self.history = build_history()  # also builds the base corpus the seed's corpora derive from
        self.history_kept = None  # documents the history kept, read once per run
        self.docs_path = corpus.derive("curation", self.seed, DOCS)
        self.batch_path = corpus.derive("index_batch", self.seed, BATCH_DOCS)

    def setup(self, spark) -> None:
        from pyspark import StorageLevel

        self.spark = spark
        docs = spark.read.parquet(self.docs_path).drop("url").repartition(NPROC)
        self.docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        self.n = self.docs.count()
        self.batch = spark.read.parquet(self.batch_path).select("doc_id", "text", "url") \
            .repartition(NPROC).persist(StorageLevel.MEMORY_AND_DISK)
        self.batch_n = self.batch.count()

    def unsetup(self) -> None:
        self.docs.unpersist()
        self.batch.unpersist()

    def _check(self, name: str, got: tuple[int, int]) -> None:
        ref = self.reference.setdefault(name, got)
        if got != ref:
            raise WrongOutput(f"{name}: output {got} differs from the warm-up pass's {ref}")

    def _note(self, key: str, value: float) -> None:
        if self.tracer.enabled:
            self.layer.setdefault(key, []).append(value)

    def ops(self, pass_no: int):
        from erpl_web_spark.operators.dedup import dedup_index_apply, dedup_index_compact, read_dedup_index
        from erpl_web_spark.operators.url_index import read_kept_batches, url_index_apply
        from erpl_web_spark.pipeline import CurationConfig, curate

        tr = self.tracer
        # every pass appends to the same history
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.history, self.root)  # keeps the history's mtimes
        self.pass_start = time.time()
        b = HISTORY_BATCHES
        self.union_counts = (None, None)

        def op_curate(ctx):
            times: list[tuple[str, float]] = []
            cfg = CurationConfig(normalize=True, exact_dedup=True, near_dedup=True, quality_gate=True,
                                 use_minhash=False, near_threshold=PAIRS["threshold"],
                                 block_cols=PAIRS["block_cols"])
            with tr.span("curate", "operators"):
                t0 = time.perf_counter()
                kept, report = curate(self.docs, cfg, stage_times=times)
                if tr.enabled:
                    t = t0
                    for stage, secs in times:
                        tr.add(f"curate.{stage}", "operators", t, t + secs)
                        t += secs
            rows, h = ctx.force(kept)
            counts = dict(report.collect())
            kept.unpersist()
            drops = sum(v for k, v in counts.items() if k.endswith("_dropped"))
            if counts.get("input") != self.n or counts["input"] != counts.get("output", -1) + drops \
                    or counts["output"] != rows:
                raise WrongOutput(f"curate report does not reconcile: {counts}, kept {rows}")
            self._check("curate", (rows, h))
            if tr.enabled:
                for stage, secs in times:
                    if stage in self.stage_s:
                        self.stage_s[stage].append(secs)
            self.dropped = drops
            return self.n

        def apply_dedup(ctx):
            with tr.span("dedup_index_apply", "index"):
                t0 = time.perf_counter()
                dedup_index_apply(self.batch, b, self.dedup_path)
                self._note("index.apply_s.dedup", time.perf_counter() - t0)
            return self.batch_n

        def apply_url(ctx):
            with tr.span("url_index_apply", "index"):
                t0 = time.perf_counter()
                url_index_apply(self.batch, b, self.url_path)
                self._note("index.apply_s.url", time.perf_counter() - t0)
            return 0

        def compact(ctx):
            with tr.span("dedup_index_compact", "index"):
                t0 = time.perf_counter()
                dedup_index_compact(self.spark, self.dedup_path, keep_latest=1)
                self._note("index.compact_s", time.perf_counter() - t0)
            return 0

        def read_union(ctx):
            with tr.span("read_union", "index"):
                t0 = time.perf_counter()
                kept_dedup, _ = ctx.force(read_dedup_index(self.spark, self.dedup_path), with_hash=False)
                kept_url, _ = ctx.force(read_kept_batches(self.spark, self.url_path), with_hash=False)
                self._note("index.read_union_s", time.perf_counter() - t0)
            self.union_counts = (kept_dedup, kept_url)
            return 0

        return [("curate", op_curate), ("dedup_apply", apply_dedup), ("url_apply", apply_url),
                ("compact", compact), ("read_union", read_union)]

    def after_op(self, op_id: str) -> None:
        from erpl_web_spark.operators import release_tracked, tracked_count

        self._note("cache.tracked", tracked_count())
        release_tracked()

    def warmup_check(self, spark) -> list[str]:
        if self.dropped == 0:
            return ["curate dropped no document: the planted duplicates were not found"]
        return []

    def after_pass(self, spark) -> list[str]:
        """Outside the timed ops: the batch's decisions record covers every
        input document exactly once, the committed union holds the
        history plus exactly the documents decided 'kept', and the pass's
        index outputs equal the warm-up pass's."""
        from pyspark.sql import functions as F

        from erpl_web_spark.core.manifests import committed_versions
        from erpl_web_spark.operators.dedup import read_dedup_index
        from erpl_web_spark.operators.url_index import read_kept_batches

        problems = []

        def kept(batch):
            dec = spark.read.parquet(os.path.join(self.dedup_path, "decisions", f"batch={batch}"))
            return dec.agg(F.count(F.lit(1)), F.countDistinct("doc_id"),
                           F.sum((F.col("status") == "kept").cast("long"))).first()

        n_dec, n_ids, n_kept = kept(HISTORY_BATCHES)
        if n_dec != self.batch_n or n_ids != self.batch_n:
            problems.append(f"decisions cover {n_ids} distinct of {self.batch_n} docs in {n_dec} rows")
        if self.history_kept is None:
            self.history_kept = sum(kept(b)[2] for b in range(HISTORY_BATCHES))
        if self.union_counts[0] != self.history_kept + n_kept:
            problems.append(f"dedup union holds {self.union_counts[0]} docs, decisions kept "
                            f"{self.history_kept} + {n_kept}")
        dedup_out = harness.observe_write(read_dedup_index(spark, self.dedup_path).select("doc_id", "hs"))
        url_out = harness.observe_write(read_kept_batches(spark, self.url_path).select("doc_id", "canonical_url"))
        got = (dedup_out, url_out, n_kept)
        if self.index_reference is None:
            self.index_reference = got
            if n_kept == self.batch_n:
                problems.append("no document was deduplicated: the planted duplicates were not found")
        elif got != self.index_reference:
            problems.append(f"index outputs {got} differ from the warm-up pass's {self.index_reference}")
        if self.tracer.enabled:
            files, size = _tree_size(self.root, since=self.pass_start)
            self._note("index.files_written", files)
            self._note("index.bytes_written", size / 2**20)
            self._note("index.state_bytes_per_doc", _tree_size(self.root)[1] / (self.batch_n + HISTORY_DOCS))
            self._note("index.versions", sum(
                len(committed_versions(spark, p, k))
                for p, k in ((self.dedup_path, "batch"), (self.url_path, "urls"), (self.url_path, "kept"))
            ))
        return problems

    def layer_metrics(self, spark, results, traced_ops, untraced_ops, group_metrics) -> dict[str, float]:
        """Stage and index times from the traced passes, plus operators run
        once on their own: the near-dup stage's pairs (materialized and
        counted) and components fixpoint, and a cosine top-k for every
        ``PROBES_EVERY``-th document."""
        from pyspark.sql import functions as F

        from erpl_web_spark.operators.dedup import ngram_jaccard_pairs
        from erpl_web_spark.operators.graph import connected_components
        from erpl_web_spark.operators.similarity import cosine_top_k

        tr = self.tracer
        with tr.span("ngram_jaccard_pairs", "operators"):
            t0 = time.perf_counter()
            pairs = ngram_jaccard_pairs(self.docs, "doc_id", "text", **PAIRS).persist()
            self._note("dedup.pairs_out", pairs.count())
            self._note("dedup.pairs_s", time.perf_counter() - t0)
        with tr.span("connected_components", "operators"):
            t0 = time.perf_counter()
            harness.observe_write(connected_components(pairs, "id_a", "id_b"))
            self._note("graph.components_s", time.perf_counter() - t0)
        pairs.unpersist()
        with tr.span("cosine_top_k", "operators"):
            t0 = time.perf_counter()
            emb = corpus.corpus_gen().bow_embeddings(self.docs)
            probes = emb.where(F.col("vec_id") % PROBES_EVERY == self.seed % PROBES_EVERY)
            harness.observe_write(cosine_top_k(emb, probes, "vec_id", "embedding", k=5))
            self._note("similarity.topk_s", time.perf_counter() - t0)
        out = {f"curate.stage_s.{s}": sum(v) / len(v) for s, v in self.stage_s.items() if v}
        out.update({k: sum(v) / len(v) for k, v in self.layer.items()})
        out["curate.dropped"] = self.dropped
        apply_ops = [o for o in traced_ops if o.endswith("_apply")]
        if apply_ops:
            out["index.jobs_per_batch"] = sum(group_metrics[o]["spark.jobs"] for o in apply_ops) / len(apply_ops)
        return out

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
