"""The benchmark's workloads: seeded inputs, the timed op, its traced
decomposition into layer spans, the side paths a traced run adds, and the
output checks.

Why each workload exists, and which layers it stresses or bypasses:

* ``batch_resolve`` — a fresh ``ResolutionJob(...).clusters().count()`` per
  op over a seeded person corpus.  Every batch layer does data-proportional
  work: job construction (``plans.compiler``), stage materialization
  (``pipeline`` + ``io``), match edges (pairs + verify), connected
  components (``operators/cluster.py``) and the label restore.  It never
  touches the fold operators or ``tdops``.
* ``dedup_folds`` — a seeded text corpus with planted near-duplicate twins,
  folded from an empty state into ``IncrementalDeduper`` as a fixed
  sequence of equal increments, every fold after the bootstrap compacting.
  It is the only workload that runs ``tdops`` MinHash and
  ``operators/dedup.py``.  It never touches ``pipeline`` or ``cluster``.

A traced run also measures, after its timed ops and outside their wall
time, the path that has no workload of its own in the run budget:

* ``batch_resolve`` adds seeded requests (``SeededRequests``): the query
  path ``input.seed`` → ``cluster.lp`` → ``pipeline.payload`` over stages
  cached with ``cache_stages_under``, as ``ResolutionJob.response`` runs it.
* ``dedup_folds`` adds person-corpus folds (``ResolverFolds``): the other
  fold operator, ``IncrementalResolver``, bootstrapped and then folded two
  increments, the second compacting (``incremental.fold``,
  ``incremental.read``).  Both fold operators are measured in one run.

At these input sizes the engine is bound by per-Spark-job fixed cost, so
each workload's own layers dominate its op and the other's are absent.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from scripts.dedup_bench import synth_rows
from zentity_spark import synth
from zentity_spark.model import Model
from zentity_spark.operators.cluster import connected_components_by_hash
from zentity_spark.operators.dedup import IncrementalDeduper
from zentity_spark.operators.incremental import IncrementalResolver
from zentity_spark.pipeline import ResolutionJob

HERE = os.path.dirname(os.path.abspath(__file__))
MB = float(1 << 20)

# person-corpus size (persons; ~4 docs each) and text-corpus shape
PERSONS = {"full": 1000, "smoke": 150}
TEXT_DOCS = {"full": 2000, "smoke": 400}
TEXT_INCREMENT = 100
# compact the dedup state on every fold: the base after the bootstrap fold
# is 100 docs and grows by 100 per fold, so one increment always exceeds
# ratio × base.  Every timed fold is then the same kind, a compacting one.
DEDUP_COMPACT_RATIO = 0.01
# the person folds: the smoke-sized corpus (the folds are bound by per-job
# fixed cost, not data), 1/20 of its docs held back and folded in 2 parts
FOLD_PERSONS = PERSONS["smoke"]
FOLD_HOLDBACK = 20
FOLD_PARTS = 2


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def _cached(inputs: str, name: str, make) -> str:
    """Directory of one generated input, made once per (generator, size,
    seed) and reused by later runs."""
    out = os.path.join(inputs, name)
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def person_corpus(inputs: str, n: int, seed: int) -> str:
    return _cached(inputs, f"person-{n}-{seed}",
                   lambda d: synth.write_corpus(d, n, seed=seed))


def read_truth(corpus: str):
    return pq.read_table(os.path.join(corpus, "doc_truth.parquet")).to_pandas()


def load_model() -> Model:
    # the benchmark's own copy of fixtures/model_person.json: an edit to
    # the fixture must not change what the benchmark measures
    with open(os.path.join(HERE, "model_person.json")) as f:
        return Model.parse(f.read())


def partition_errs(labels, truth) -> list:
    """``labels`` (doc_id, entity_id) must hold one row per truth doc and
    partition them exactly as the truth persons do."""
    got = labels.merge(truth[["doc_id", "person_id"]], on="doc_id")
    errs = []
    if len(labels) != len(truth) or len(got) != len(truth) \
            or labels.doc_id.nunique() != len(truth):
        errs.append(f"{len(labels)} output rows for {len(truth)} docs")
    split = int((got.groupby("person_id").entity_id.nunique() > 1).sum())
    merged = int((got.groupby("entity_id").person_id.nunique() > 1).sum())

    def pairs(sizes):
        return int((sizes * (sizes - 1) // 2).sum())
    tp = pairs(got.groupby(["entity_id", "person_id"]).size())
    pred = pairs(got.groupby("entity_id").size())
    true = pairs(got.groupby("person_id").size())
    f1 = 2 * tp / (pred + true) if pred + true else 1.0
    if split or merged or f1 != 1.0:
        errs.append(f"partition != truth: {split} split persons, "
                    f"{merged} merged entities, pairwise F1 {f1:.4f}")
    return errs


# ---------------------------------------------------------------------------
# batch_resolve
# ---------------------------------------------------------------------------

class BatchResolve:
    """Op = a fresh ``ResolutionJob(...).clusters().count()`` and then
    ``unpersist()``, so nothing is cached between ops."""

    spans = ("pipeline.job_init", "pipeline.materialize", "pipeline.edges",
             "cluster.cc", "pipeline.restore")
    min_ops = 1

    def __init__(self, inputs: str, seed: int, scale: str, out: str):
        self.seed = seed
        self.corpus = person_corpus(inputs, PERSONS[scale], seed)
        self.out = out
        self.stage_dir = os.path.join(out, "stages")   # ZENTITY_LOCAL_DIR
        self.counts: dict = {}
        self.disk: list = []

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(
            os.path.join(self.corpus, "docs_spans.parquet"))
        self.n_docs = self.docs.count()
        self.model = load_model()
        # warm-up op; its full output is the one the partition check reads
        job = ResolutionJob(spark, self.docs, self.model)
        self.labels = job.clusters().select("doc_id", "entity_id").toPandas()
        job.unpersist()

    def check_setup(self) -> list:
        self.counts["cluster.components"] = (
            float(self.labels.entity_id.nunique()), "count")
        return partition_errs(self.labels, read_truth(self.corpus))

    def has_op(self, i: int) -> bool:
        return True

    def _end(self, n_out: int) -> list:
        """between the op's count and its unpersist: stage-dir size."""
        self.disk.append(dir_bytes(self.stage_dir) / MB / self.n_docs * 1000)
        return [] if n_out == self.n_docs else [
            f"op output {n_out} rows != {self.n_docs} docs"]

    def op(self, i: int) -> tuple[float, list]:
        t0 = time.perf_counter()
        job = ResolutionJob(self.spark, self.docs, self.model)
        n_out = job.clusters().count()
        t1 = time.perf_counter()
        errs = self._end(n_out)
        t2 = time.perf_counter()
        job.unpersist()
        return (t1 - t0) + (time.perf_counter() - t2), errs

    def traced_op(self, i: int, tr) -> tuple[float, list]:
        """the op split at the pipeline's public layer boundaries, running
        the same Spark jobs as ``clusters().count()``.  ``cluster.cc`` is
        the star rounds; the label canonicalization it returns lazily runs
        in ``pipeline.restore`` with the docs ⋈ labels join."""
        t0 = time.perf_counter()
        with tr.span("pipeline.job_init", i):
            job = ResolutionJob(self.spark, self.docs, self.model)
        with tr.span("pipeline.materialize", i):
            job.materialize()
        with tr.span("pipeline.edges", i):
            edges = job.match_edges() \
                .select("doc_id_a", "doc_id_b").localCheckpoint()
        with tr.span("cluster.cc", i):
            labels = connected_components_by_hash(
                edges, wide_ids=job.wide_cc_ids)
        with tr.span("pipeline.restore", i):
            n_out = (job.docs.join(labels, "doc_id", "left")
                     .select("doc_id",
                             F.coalesce("entity_id", "doc_id")
                             .alias("entity_id"), "spans")
                     .count())
        t1 = time.perf_counter()
        errs = self._end(n_out)
        # counts read after the op, outside its wall time
        rows = 0
        for p in glob.glob(os.path.join(self.stage_dir, "*", "metrics.jsonl")):
            with open(p) as f:
                rows += sum(json.loads(line)["rows_out"] for line in f)
        cand = job.candidate_pairs().count()
        matched = edges.count()
        self.counts.update({
            "pipeline.materialize.rows": (float(rows), "count"),
            "pipeline.edges.candidates": (float(cand), "count"),
            "pipeline.edges.matched": (float(matched), "count"),
            "pipeline.edges.verify_yield": (
                matched / cand if cand else 0.0, "frac"),
            "io.stage_mb": (dir_bytes(self.stage_dir) / MB, "MB"),
        })
        t2 = time.perf_counter()
        job.unpersist()
        return (t1 - t0) + (time.perf_counter() - t2), errs

    def side(self, tr) -> list:
        s = SeededRequests(self.spark, self.docs, self.model, self.corpus,
                           self.seed, os.path.join(self.out, "seeded"))
        errs = s.run(tr)
        self.counts.update(s.counts)
        return errs

    def check_end(self) -> list:
        return []


class SeededRequests:
    """Two seeded resolution requests over stages cached in advance with
    ``cache_stages_under``: one from attribute values or terms (alternating
    with the seed) of a random person, one from a random doc id, each with
    a random ``max_hops`` in 1..3.  Each request runs the calls
    ``ResolutionJob.response`` makes, in its order:

    * ``input.seed`` — ``seed_docs`` (attribute and term requests only);
    * ``cluster.lp`` — ``resolve_seeded``: bounded label propagation, whose
      first job also recomputes the corpus-wide match edges from the
      cached stages;
    * ``pipeline.payload`` — ``attributes_map`` and ``doc_scores_for`` over
      the hits, joined with the source spans and collected.
    """

    spans = ("input.seed", "cluster.lp", "pipeline.payload")

    def __init__(self, spark, docs, model, corpus: str, seed: int,
                 cache_dir: str):
        self.spark, self.docs, self.model = spark, docs, model
        self.truth = read_truth(corpus)
        self.persons = pq.read_table(
            os.path.join(corpus, "persons.parquet")).to_pandas()
        self.seed = seed
        self.cache_dir = cache_dir
        self.counts: dict = {}

    def requests(self) -> list:
        rng = np.random.RandomState(self.seed % (1 << 32))
        # a person with an unperturbed doc, which its own values must seed
        plain = self.truth[self.truth.op == "none"]
        doc = plain.iloc[rng.randint(len(plain))]
        p = self.persons.set_index("person_id").loc[doc.person_id]
        first = (dict(attributes={"name": [p["name"]], "dob": [p["dob"]]})
                 if self.seed % 2 == 0 else dict(terms=[p["email"]]))
        first.update(max_hops=int(rng.randint(1, 4)), must=doc.doc_id)
        other = self.truth.doc_id.iloc[rng.randint(len(self.truth))]
        return [first, dict(ids=[other], max_hops=int(rng.randint(1, 4)),
                            must=other)]

    def run(self, tr) -> list:
        job = ResolutionJob(self.spark, self.docs, self.model) \
            .cache_stages_under(self.cache_dir)
        job.materialize()
        person = dict(zip(self.truth.doc_id, self.truth.person_id))
        errs, hops, hits = [], [], []
        for k, req in enumerate(self.requests()):
            ids = req.get("ids")
            if ids:
                seeds = ids
            else:
                with tr.span("input.seed", f"seeded{k}"):
                    seeds = job.seed_docs(req.get("attributes"),
                                          req.get("terms"))
            with tr.span("cluster.lp", f"seeded{k}"):
                got = job.resolve_seeded(
                    seeds, max_hops=req["max_hops"]).localCheckpoint()
            with tr.span("pipeline.payload", f"seeded{k}"):
                ids_df = got.select("doc_id")
                rows = (got.join(job.attributes_map(ids_df), "doc_id", "left")
                        .join(job.doc_scores_for(ids_df), "doc_id", "left")
                        .join(job.docs.select("doc_id", "spans"), "doc_id",
                              "left")
                        .select("doc_id", "hop").collect())
            seed_ids = set(ids) if ids else \
                {r["doc_id"] for r in seeds.collect()}
            hop = {r["doc_id"]: r["hop"] for r in rows}
            if len(hop) != len(rows):
                errs.append(f"request {k}: a doc hit twice")
            errs += self._check(k, req, seed_ids, hop, person)
            hops.append(max(hop.values(), default=0))
            hits.append(len(hop))
        job.unpersist()
        self.counts = {
            "cluster.lp.hops": (float(statistics.median(hops)), "count"),
            "cluster.lp.hits": (float(statistics.median(hits)), "count"),
        }
        return errs

    @staticmethod
    def _check(k: int, req: dict, seed_ids: set, hop: dict,
               person: dict) -> list:
        """every hit lies in the truth entity of one of the seed docs, the
        seeds are the hop-0 hits, and the request's own doc is seeded."""
        errs = []
        if req["must"] not in seed_ids:
            errs.append(f"request {k}: doc {req['must']} not seeded")
        if {d for d, h in hop.items() if h == 0} != seed_ids:
            errs.append(f"request {k}: hop-0 hits != its {len(seed_ids)} "
                        "seed docs")
        want = {person[d] for d in seed_ids}
        stray = [d for d in hop if person.get(d) not in want]
        if stray:
            errs.append(f"request {k}: {len(stray)} hits outside the seeds' "
                        "truth entities")
        if max(hop.values(), default=0) > req["max_hops"]:
            errs.append(f"request {k}: hop beyond max_hops {req['max_hops']}")
        return errs


# ---------------------------------------------------------------------------
# dedup_folds
# ---------------------------------------------------------------------------

def exact_jaccard(a: str, b: str, w: int) -> float:
    """``tdops``' shingle-set Jaccard recomputed in Python: ``w``-token
    shingles of the space-split, non-empty tokens."""
    def sh(t):
        tk = [x for x in t.split(" ") if x]
        return {" ".join(tk[i:i + w]) for i in range(len(tk) - w + 1)}
    sa, sb = sh(a), sh(b)
    inter = len(sa & sb)
    return float(inter) / float(len(sa) + len(sb) - inter)


class DedupFolds:
    """Op = one compacting ``IncrementalDeduper.fold`` of the next
    increment, its new pairs collected.  Fold 0 (the bootstrap into an
    empty state) is the warm-up."""

    spans = ("dedup.fold",)
    # an untraced run times at least two folds and reports their median:
    # one fold is short enough that host noise moves it by a tenth
    min_ops = 2

    def __init__(self, inputs: str, seed: int, scale: str, out: str):
        n = TEXT_DOCS[scale]
        # scripts/dedup_bench.py's generator: ~60-token docs, 20% with a
        # shared boilerplate prefix, 5% followed by a planted near-dup twin
        # (the only docs holding the token "edited")
        rows = synth_rows(n, seed=seed % (1 << 32))
        self.twins = {(i - 1, i) for i, t in rows if "edited" in t.split()}
        self.text = dict(rows)

        def write(d):
            for k in range(0, n, TEXT_INCREMENT):
                part = rows[k:k + TEXT_INCREMENT]
                pq.write_table(pa.table({
                    "doc_id": pa.array([r[0] for r in part], pa.int64()),
                    "text": [r[1] for r in part]}),
                    os.path.join(d, f"inc_{k // TEXT_INCREMENT:04d}.parquet"))
        self.corpus = _cached(inputs, f"text-{n}-{seed}", write)
        self.n_incs = -(-n // TEXT_INCREMENT)
        self.inputs, self.seed, self.out = inputs, seed, out
        self.state_dir = os.path.join(out, "dedup")
        self.found: dict = {}
        self.folded: set = set()
        self.counts: dict = {"dedup.fold.compactions": (0.0, "count")}
        self.disk: list = []
        self.new_pairs: list = []

    def _delta(self, i: int):
        return self.spark.read.parquet(
            os.path.join(self.corpus, f"inc_{i:04d}.parquet"))

    def setup(self, spark) -> None:
        self.spark = spark
        self.deduper = IncrementalDeduper(
            spark, self.state_dir, auto_compact_ratio=DEDUP_COMPACT_RATIO)
        self.warm = self.deduper.fold(self._delta(0)).collect()

    def check_setup(self) -> list:
        return self._check(0, self.warm)

    def has_op(self, i: int) -> bool:
        return i < self.n_incs

    def _check(self, i: int, new: list) -> list:
        """accumulated pairs == the planted twins folded so far, and every
        jaccard equals its exact recomputation."""
        self.folded.update(
            range(i * TEXT_INCREMENT, (i + 1) * TEXT_INCREMENT))
        errs = []
        for r in new:
            pair = (r["doc_id_a"], r["doc_id_b"])
            if pair in self.found:
                errs.append(f"pair {pair} reported twice")
            self.found[pair] = r["jaccard"]
            exact = exact_jaccard(self.text[pair[0]], self.text[pair[1]],
                                  self.deduper.shingle_w)
            if r["jaccard"] != exact:
                errs.append(f"pair {pair} jaccard {r['jaccard']} != {exact}")
        want = {t for t in self.twins
                if t[0] in self.folded and t[1] in self.folded}
        if set(self.found) != want:
            errs.append(f"fold {i}: {len(set(self.found) - want)} pairs not "
                        f"planted, {len(want - set(self.found))} twins missed")
        return errs

    def op(self, i: int) -> tuple[float, list]:
        delta = self._delta(i)
        t0 = time.perf_counter()
        new = self.deduper.fold(delta).collect()
        wall = time.perf_counter() - t0
        return wall, self._after(i, new)

    def traced_op(self, i: int, tr) -> tuple[float, list]:
        delta = self._delta(i)
        t0 = time.perf_counter()
        with tr.span("dedup.fold", i):
            new = self.deduper.fold(delta).collect()
        wall = time.perf_counter() - t0
        self.new_pairs.append(len(new))
        return wall, self._after(i, new)

    def _after(self, i: int, new: list) -> list:
        errs = self._check(i, new)
        if self.deduper.last_fold_compacted:
            n, unit = self.counts["dedup.fold.compactions"]
            self.counts["dedup.fold.compactions"] = (n + 1, unit)
        self.disk.append(
            dir_bytes(self.state_dir) / MB / len(self.folded) * 1000)
        return errs

    def side(self, tr) -> list:
        s = ResolverFolds(self.spark, self.inputs, self.seed,
                          os.path.join(self.out, "incremental"))
        errs = s.run(tr)
        self.counts.update(s.counts)
        return errs

    def check_end(self) -> list:
        stored = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
                  for r in self.deduper.pairs().collect()}
        if self.new_pairs:
            self.counts["dedup.fold.new_pairs"] = (
                float(statistics.median(self.new_pairs)), "count")
        self.counts["io.state_mb"] = (dir_bytes(self.state_dir) / MB, "MB")
        return [] if stored == self.found else [
            f"state holds {len(stored)} pairs, folds returned "
            f"{len(self.found)}"]


class ResolverFolds:
    """``IncrementalResolver`` over a seeded person corpus: all but 1/20
    of the docs (a hash split on ``doc_id``) bootstrapped, then the rest
    folded as two equal increments.  Each fold is ``add(Δ)``
    (``incremental.fold``) followed by ``clusters().count()``
    (``incremental.read``).  The first fold runs at the default compaction
    ratio and does not compact; the second runs on a resolver whose ratio
    is set, through the public constructor, just above the first fold's
    relabeled rows, so it compacts as soon as it relabels anything.  The
    final partition must equal the truth partition, which the batch path
    reproduces on this corpus."""

    spans = ("incremental.fold", "incremental.read")

    def __init__(self, spark, inputs: str, seed: int, state_dir: str):
        self.spark = spark
        corpus = person_corpus(inputs, FOLD_PERSONS, seed)
        self.truth = read_truth(corpus)
        self.docs = spark.read.parquet(
            os.path.join(corpus, "docs_spans.parquet"))
        self.state_dir = state_dir
        self.counts: dict = {}

    def _current(self) -> dict:
        with open(os.path.join(self.state_dir, "CURRENT")) as f:
            return json.load(f)

    def run(self, tr) -> list:
        model = load_model()
        held = sorted(d for d in self.truth.doc_id
                      if zlib.crc32(d.encode()) % FOLD_HOLDBACK == 0)
        parts = [held[k::FOLD_PARTS] for k in range(FOLD_PARTS)]
        col = F.col("doc_id")
        ir = IncrementalResolver(self.spark, model, self.state_dir)
        ir.add(self.docs.where(~col.isin(held)))
        errs, delta_edges, relabeled, compactions = [], [], [], 0
        for k, part in enumerate(parts, 1):
            if k == FOLD_PARTS:
                cur = self._current()
                ir = IncrementalResolver(
                    self.spark, model, self.state_dir,
                    auto_compact_ratio=(cur["delta_rows"] + 0.5)
                    / cur["base_rows"])
            before = self._current()
            with tr.span("incremental.fold", f"fold{k}"):
                ir.add(self.docs.where(col.isin(part)))
            cur = self._current()
            delta_edges.append(ir.last_delta_edges)
            if cur["base_inc"] == cur["fold_id"]:
                compactions += 1
            else:
                relabeled.append(cur["delta_rows"] - before["delta_rows"])
            with tr.span("incremental.read", f"fold{k}"):
                n = ir.clusters().count()
            if n != len(self.truth) - sum(map(len, parts[k:])):
                errs.append(f"fold {k}: {n} clustered docs")
        labels = ir.clusters().select("doc_id", "entity_id").toPandas()
        errs += [f"folds: {e}" for e in partition_errs(labels, self.truth)]
        self.counts = {
            "incremental.fold.delta_edges": (
                float(statistics.median(delta_edges)), "count"),
            "incremental.fold.relabeled_rows": (
                float(statistics.median(relabeled)) if relabeled else 0.0,
                "count"),
            "incremental.fold.compactions": (float(compactions), "count"),
            "io.resolver_state_mb": (dir_bytes(self.state_dir) / MB, "MB"),
        }
        return errs


WORKLOADS = {"batch_resolve": BatchResolve, "dedup_folds": DedupFolds}
SIDE_SPANS = SeededRequests.spans + ResolverFolds.spans
