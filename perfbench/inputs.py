"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed gives
the same rows. Inputs are rendered in this process and committed as
parquet with pyarrow, so generating them runs no Spark job; the program
under test only ever sees the committed files.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from gondar_spark.synth import SynthConfig, build_entity_pool, render_file


def _write(path: str, columns: dict, name: str = "part",
           parts: int = 4) -> None:
    """Commit ``columns`` as ``parts`` parquet files in directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"{name}-{k:05d}.parquet"))


# ---------------------------------------------------------------------------
# kg_build, part 1: the synth corpus with dense facts
# ---------------------------------------------------------------------------


def synth_config(seed: int, n_files: int) -> SynthConfig:
    """Dense facts (40-80 per file) so triple volume goes through
    extraction and materialize; the mention dictionary stays capped by
    the 24-entity pool."""
    return SynthConfig(n_files=n_files, seed=seed, facts_min=40,
                       facts_max=80)


def write_synth_corpus(scfg: SynthConfig, corpus: str, golden: str) -> None:
    """The source rows to ``corpus`` and the planted (subj, pred, obj)
    facts to ``golden`` — the same rendering synth.generate_source_df and
    synth.golden_triples_df distribute."""
    pool = build_entity_pool(scfg)
    src = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    gold = {k: [] for k in ("subj", "pred", "obj")}
    for i in range(scfg.n_files):
        row, facts = render_file(scfg, pool, i)
        for k in src:
            src[k].append(row[k])
        subj = f"{row['repo']}:{row['path']}"
        for pred, obj, _, _ in facts:
            gold["subj"].append(subj)
            gold["pred"].append(pred)
            gold["obj"].append(obj)
    _write(corpus, src, "synth")
    _write(golden, gold, parts=1)


# ---------------------------------------------------------------------------
# kg_build, part 2: two-member family corpus
# ---------------------------------------------------------------------------
# Each file carries one log() literal; the two members of a family hold
# overlapping 20-char windows of md5('fam:<seed>:<f>') (offsets 0 and 4
# share 16 chars -> 3-gram jaccard ~0.64 >= 0.6 -> one edge per family),
# so |norms| ~ files and |edges| ~ families. Same shape as
# tools/bench_linking.py, with the seed mixed into the family hash.

FAMILY_REPO = "benchrepo"


def family_norms(seed: int, fam: int) -> tuple[str, str]:
    """The two mention norms of family ``fam`` (md5 hex windows are
    already lower-case alphanumerics, so normalization keeps them)."""
    h = hashlib.md5(f"fam:{seed}:{fam}".encode()).hexdigest()
    return h[0:20], h[4:24]


def write_family_corpus(seed: int, n_families: int, corpus: str) -> None:
    paths, contents = [], []
    for member in (0, 1):
        for fam in range(n_families):
            paths.append(f"src/fam_m{member}_{fam}.py")
            contents.append(f'    log("{family_norms(seed, fam)[member]}")')
    n = len(paths)
    _write(corpus, {
        "repo": [FAMILY_REPO] * n, "path": paths, "commit": ["c0"] * n,
        "lang": ["python"] * n, "content": contents}, "families")


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted duplicates
# ---------------------------------------------------------------------------
# Shaped like the sf0.1 documents table (doc_id, text, lang, source,
# n_chars; tokens from a ~40-word vocabulary); lengths start at 30
# tokens so every document clears clean_corpus's quality gate and the
# expected survivor set is exact.

_VOCAB = (
    "a the of and to is spark table query join sort hash scan filter "
    "group agg window stream batch row column key value data part line "
    "order vector merge fast slow big small customer index shuffle "
    "cache plan node"
).split()
_LANGS = ("en", "es", "de", "fr", "zh")


def make_documents(seed: int, n_docs: int, n_near: int, n_exact: int):
    """Returns (texts, planted); doc_id is the index into ``texts`` and
    planted is a list of (original_id, duplicate_id, kind). A near
    duplicate replaces the last token of an original of >= 40 tokens
    (word-3-gram jaccard >= 37/39, so MinHash/LSH misses it with odds
    below 1e-7); an exact duplicate copies it. Duplicates always get a
    higher id than their original, so the min-id keeper rule keeps the
    original."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(30, 80)))
             for _ in range(n_docs)]
    long_docs = [i for i, t in enumerate(texts) if t.count(" ") >= 39]
    planted = []
    for j, orig in enumerate(rng.sample(long_docs, n_near + n_exact)):
        toks = texts[orig].split(" ")
        kind = "near" if j < n_near else "exact"
        if kind == "near":
            toks[-1] = rng.choice([w for w in _VOCAB if w != toks[-1]])
        texts.append(" ".join(toks))
        planted.append((orig, len(texts) - 1, kind))
    return texts, planted


def write_documents(texts: list[str], path: str) -> None:
    n = len(texts)
    _write(path, {
        "doc_id": pa.array(range(n), pa.int64()), "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
