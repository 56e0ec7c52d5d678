"""The benchmark workloads. Each is a closed loop from one client: the
next timed operation starts only after the previous one (and its output
check) finished.

A workload provides
  * ``setup(ctx)``       inputs generated from the seed and committed,
                         plus any state the timed operations start from;
  * ``iteration(ctx, i)`` a list of ``Op`` — the timed operations of one
                         iteration, run in order by the runner;
  * ``warmup()``         the same workload at a tiny size: the runner sets
                         it up and runs one iteration, untimed, so code
                         generation and JIT warm-up happen before the
                         timed iterations (and count in setup_s).

An ``Op`` pairs the timed call with a check that runs after it, outside
the timed region. A check returns None when the output is right and a
one-line reason when it is not.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time
from typing import Any, Callable

from pyspark.sql import functions as F

from gondar_spark.config import JobConfig
from gondar_spark.eval import precision_recall
from gondar_spark.extraction.spec import band_keys, char_ngrams, jaccard
from gondar_spark.operators import dedup
from gondar_spark.pipeline import Pipeline

from . import inputs


@dataclasses.dataclass
class Op:
    name: str                       # e.g. "build"; reported as op.<name>_s
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    pipe: Pipeline | None = None    # lineage source for the traced run
    warehouse: str | None = None    # walked for bytes/files written
    # walls of named steps inside the op, reported as dedup.<step>_s
    sub_walls: dict = dataclasses.field(default_factory=dict)


@dataclasses.dataclass
class Ctx:
    spark: Any
    work: str                       # scratch dir inside the repository
    seed: int
    inputs: str | None = None       # where setup commits the inputs
    tracer: Any = None              # set while a traced iteration runs

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------


def expected_graph(seed: int, n_families: int,
                   cfg: JobConfig) -> tuple[set, dict]:
    """The family norms' edges and CC labels, computed with the pipeline's
    own reference blocking/scoring functions (extraction.spec): two norms
    are linked iff they share an LSH band key and their 3-gram jaccard
    clears the threshold. LSH is a probabilistic filter, so a few
    families legitimately get no edge; this reproduces exactly which."""
    edges, labels = set(), {}
    for fam in range(n_families):
        a, b = sorted(inputs.family_norms(seed, fam))
        keys_a, keys_b = (
            set(band_keys(n, cfg.minhash_hashes, cfg.lsh_bands,
                          cfg.extractor_seed, cfg.shingle_size))
            for n in (a, b))
        if keys_a & keys_b and jaccard(
                char_ngrams(a, cfg.shingle_size),
                char_ngrams(b, cfg.shingle_size)) >= cfg.link_threshold:
            edges.add((a, b))
            labels[a] = labels[b] = a
    return edges, labels


class KgBuild:
    """One-shot ``Pipeline.run(source_path=...)`` with durable link state
    over a committed corpus of two parts: synth files with dense facts
    (triple volume through extraction and materialize) and two-member
    families (|norms| ~ files, one edge per family: blocking, scoring,
    CC and the partitioned link-store writes). Each iteration builds a
    fresh warehouse."""

    name = "kg_build"

    def __init__(self, synth_files: int, families: int) -> None:
        self.synth_files = synth_files
        self.families = families

    def sizes(self) -> dict:
        return {"synth_files": self.synth_files, "families": self.families,
                "corpus_files": self.synth_files + 2 * self.families}

    def warmup(self) -> "KgBuild":
        return KgBuild(synth_files=10, families=10)

    def setup(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        self.corpus = os.path.join(ctx.inputs, "corpus")
        golden = os.path.join(ctx.inputs, "golden")
        inputs.write_synth_corpus(
            inputs.synth_config(ctx.seed, self.synth_files), self.corpus,
            golden)
        inputs.write_family_corpus(ctx.seed, self.families, self.corpus)
        self.golden = ctx.spark.read.parquet(golden)
        self.family_norms = {n for f in range(self.families)
                             for n in inputs.family_norms(ctx.seed, f)}
        self.want = expected_graph(ctx.seed, self.families, JobConfig())
        return {"inputs_s": time.perf_counter() - t0}

    def iteration(self, ctx: Ctx, i: int) -> list[Op]:
        wh = os.path.join(ctx.work, f"wh_{i}")
        shutil.rmtree(wh, ignore_errors=True)
        pipe = Pipeline(ctx.spark, JobConfig(
            warehouse=wh, run_id=f"build{i}", durable_link_state=True))
        return [Op("build", lambda: pipe.run(source_path=self.corpus),
                   lambda _: self.check(pipe), pipe, wh)]

    def check(self, pipe: Pipeline) -> str | None:
        triples = pipe.io.read("triples_raw").filter(
            F.col("repo") != inputs.FAMILY_REPO)
        p, r = precision_recall(triples, self.golden)
        if p < 0.95 or r < 0.95:
            return f"synth triples P/R {p:.4f}/{r:.4f} below 0.95"
        fam = self.family_norms
        got_edges = {
            tuple(sorted((a, b))) for a, b in
            pipe.io.read("edges").select("norm_a", "norm_b").collect()
            if a in fam or b in fam}
        want_edges, want_labels = self.want
        if got_edges != want_edges:
            return (f"family edges: {len(got_edges - want_edges)} "
                    f"unexpected, {len(want_edges - got_edges)} missing")
        got_labels = {
            n: c for n, c in
            pipe.io.read("labels").select("norm", "component").collect()
            if n in fam}
        if got_labels != want_labels:
            return "family CC labels differ from one component per family"
        return None


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup:
    """``dedup.clean_corpus``, then ``ngram_jaccard_pairs`` at operator
    defaults, then ``simhash_dedup``, over a seeded document table with
    planted near and exact duplicates. Each output is collected to the
    driver inside the timed region (all are small), which forces the
    whole plan and hands the check its rows without a second run."""

    name = "corpus_dedup"

    def __init__(self, docs: int, near: int, exact: int) -> None:
        self.docs, self.near, self.exact = docs, near, exact

    def sizes(self) -> dict:
        return {"docs": self.docs + self.near + self.exact,
                "planted_near": self.near, "planted_exact": self.exact}

    def warmup(self) -> "CorpusDedup":
        return CorpusDedup(docs=60, near=4, exact=1)

    def setup(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        texts, self.planted = inputs.make_documents(
            ctx.seed, self.docs, self.near, self.exact)
        path = os.path.join(ctx.inputs, "documents")
        inputs.write_documents(texts, path)
        self.documents = ctx.spark.read.parquet(path)
        self.all_ids = set(range(len(texts)))
        return {"inputs_s": time.perf_counter() - t0}

    def iteration(self, ctx: Ctx, i: int) -> list[Op]:
        docs = self.documents
        steps = (
            ("clean_corpus", lambda: dedup.clean_corpus(docs)),
            ("ngram_jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(docs)),
            ("simhash_dedup", lambda: dedup.simhash_dedup(docs)),
        )
        op = Op("dedup", None, self.check)

        def chain():
            out = {}
            for name, build in steps:
                t = time.perf_counter()
                with ctx.span(name, "operators.dedup"):
                    out[name] = build().collect()
                op.sub_walls[name] = time.perf_counter() - t
            return out

        op.run = chain
        return [op]

    def check(self, out: dict) -> str | None:
        dups = {d for _, d, _ in self.planted}
        kept = {r["doc_id"] for r in out["clean_corpus"]}
        self.kept_docs = len(kept)
        if kept != self.all_ids - dups:
            return (f"clean_corpus kept {len(kept & dups)} planted dups and "
                    f"dropped {len(self.all_ids - dups - kept)} originals")
        pairs = {(r["id_a"], r["id_b"]) for r in out["ngram_jaccard_pairs"]}
        self.pairs_out = len(pairs)
        missed = {(o, d) for o, d, _ in self.planted} - pairs
        if missed:
            return f"ngram_jaccard_pairs missed {len(missed)} planted pairs"
        exact = {(r["id_a"], r["id_b"]) for r in out["simhash_dedup"]
                 if r["hamming"] == 0}
        missed = {(o, d) for o, d, k in self.planted if k == "exact"} - exact
        if missed:
            return f"simhash_dedup missed {len(missed)} planted exact dups"
        return None


WORKLOADS = {
    # sizes are fixed per workload; the seed varies only the content
    "kg_build": lambda: KgBuild(synth_files=300, families=300),
    "corpus_dedup": lambda: CorpusDedup(docs=500, near=25, exact=5),
}
