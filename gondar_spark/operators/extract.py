"""B4: the vectorized mention-detection + triple-extraction stage.

This is the ONE custom Python-UDF stage of the pipeline (SURVEY.md §2B),
the analog of the reference's per-section LLM loop fused with its JSON
parse, empty filter, and tabulation (A14/A16/A17/A18/A19 —
/root/reference/gondar/modules/PubMedFlow.py:233-251). Differences by
design:

  * partition-parallel ``mapInArrow`` over Arrow record batches instead of
    a sequential driver loop — the extractor is invoked once per batch
    ("no per-row Python", /root/repo/BASELINE.json:15);
  * deterministic extractor (extraction.spec) replaces the LLM pinned to
    temperature 0 / seed 1001 (PubMedFlow.py:72,104);
  * bounded in-UDF retry with quarantine rows instead of silent drops
    (A15 — PubMedFlow.py:74-75); Spark task retry handles machine faults;
  * one mention per output row, fixed schema (the prompt contract,
    PubMedFlow.py:171-172).

Input rows are extraction units from chunk.prepare_extraction_units:
(.., base_chunk, unit) — chunk provenance is
``chunk_id = base_chunk + line_no // chunk_lines`` (pure line math, so
whole-file units and super-chunk units number identically).

Hot-loop notes (measured): outputs are built as dict-of-lists (a pandas
DataFrame from tuple rows pays an object-array conversion ~15% of stage
time); batch metrics ride as `__metric__` rows split off by the pipeline
into the lineage table (A20 analog — PubMedFlow.py:242, Flow.py:27-40).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..extraction.spec import extract_from_content

# an extractor maps (lang, text) -> [(pred, obj, kind, line_no), ...].
# The default is the deterministic spec extractor; a real LLM backend
# plugs in here (assemble prompts per micro-batch with
# extraction.prompts.build_messages, call the model once per batch, parse
# JSON back to fact tuples) — the retry/quarantine/metrics machinery
# around it is shared and unchanged.
ExtractorFn = Callable[[str, str], list]

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
    ]
)

_COLS = [f.name for f in EXTRACT_SCHEMA]


def _extract_micro_batch(pdf: pd.DataFrame, chunk_lines: int,
                         max_retries: int,
                         extractor: ExtractorFn = extract_from_content,
                         batch_extractor=None,
                         ) -> dict[str, list]:
    """pandas-frame wrapper over :func:`_extract_rows` (kept for callers
    that hold a pdf — the streaming jobs and the unit tests)."""
    rows = list(zip(
        pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"],
        pdf["base_chunk"], pdf["unit"]
    ))
    return _extract_rows(rows, chunk_lines, max_retries, extractor,
                         batch_extractor)


def _extract_rows(rows: list, chunk_lines: int,
                  max_retries: int,
                  extractor: ExtractorFn = extract_from_content,
                  batch_extractor=None,
                  ) -> dict[str, list]:
    """One extractor invocation per micro-batch (the batched 'LLM call').
    ``rows`` = (repo, path, commit, lang, base_chunk, unit) tuples.

    ``batch_extractor`` (e.g. extraction.llm.BatchLLMExtractor) takes the
    whole micro-batch at once — prompt assembly + batched transport calls
    + JSON parse happen inside it; it returns per-row fact lists, with an
    Exception in place of a list for rows that permanently failed (those
    quarantine here, via the same emit path as per-row extractor errors).
    """
    cols: dict[str, list] = {c: [] for c in _COLS}

    def emit(subj, pred, obj, kind, repo, path, commit, lang, chunk_id):
        cols["subj"].append(subj)
        cols["pred"].append(pred)
        cols["obj"].append(obj)
        cols["kind"].append(kind)
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(commit)
        cols["lang"].append(lang)
        cols["chunk_id"].append(chunk_id)

    if batch_extractor is not None:
        results = batch_extractor.extract_batch(
            [(lang, unit, f"{repo}:{path}", int(base))
             for repo, path, commit, lang, base, unit in rows]
        )
    else:
        results = None

    for i, (repo, path, commit, lang, base_chunk, unit) in enumerate(rows):
        subj = f"{repo}:{path}"
        base = int(base_chunk)
        if results is not None:
            facts = results[i]
            if isinstance(facts, Exception):
                emit(subj, "__error__", str(facts)[:500], "error",
                     repo, path, commit, lang, -1)
                facts = []
        else:
            attempt = 0
            while True:
                try:
                    facts = extractor(lang, unit)
                    break
                except Exception as e:  # quarantine, never silently drop (A15)
                    attempt += 1
                    if attempt > max_retries:
                        emit(subj, "__error__", str(e)[:500], "error",
                             repo, path, commit, lang, -1)
                        facts = []
                        break
        for pred, obj, kind, line in facts:
            emit(subj, pred, obj, kind, repo, path, commit, lang,
                 base + line // chunk_lines)
    return cols


def extract_triples(units: DataFrame, max_retries: int = 2,
                    chunk_lines: int = 64,
                    emit_metrics: bool = True,
                    extractor: ExtractorFn = extract_from_content,
                    batch_extractor=None,
                    ) -> DataFrame:
    """units(repo,path,commit,lang,base_chunk,unit) -> triple rows.

    Column-prunes its own input (only the needed columns cross the Arrow
    boundary — the reference's token-minimization instinct,
    /root/reference/gondar/tools/entrez.py:59-68, as input narrowing).
    """
    import pyarrow as pa

    narrow = units.select("repo", "path", "commit", "lang", "base_chunk", "unit")
    arrow_schema = pa.schema(
        [pa.field(c, pa.int32() if c == "chunk_id" else pa.string())
         for c in _COLS])

    # mapInArrow, not mapInPandas (round 6): the extractor itself is
    # ~13us/doc — the stage cost was the boundary. Building the output as
    # pyarrow arrays straight from the emit lists skips the
    # dict -> pandas object-array -> arrow round trip on ~9 string
    # columns x every emitted fact row (guide §4.2: hand whole batches to
    # the columnar library, don't detour through pandas).
    def run(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            names = rb.schema.names
            cols_in = {n: rb.column(i).to_pylist()
                       for i, n in enumerate(names)}
            rows = list(zip(cols_in["repo"], cols_in["path"],
                            cols_in["commit"], cols_in["lang"],
                            cols_in["base_chunk"], cols_in["unit"]))
            cols = _extract_rows(rows, chunk_lines, max_retries,
                                 extractor, batch_extractor)
            if emit_metrics:
                # count BEFORE appending the metric row itself, and exclude
                # quarantine (__error__) rows — triples only. Tag the
                # PHYSICAL partition so the metrics table is genuinely
                # per-partition lineage (which executor slice produced
                # what, straggler/skew attribution after the fact) — the
                # north star's "per-partition lineage + metrics" clause,
                # /root/repo/BASELINE.json:6.
                from pyspark import TaskContext

                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx is not None else -1
                n_triples = sum(1 for k in cols["kind"] if k != "error")
                cols["subj"].append("__batch__")
                cols["pred"].append("__metric__")
                cols["obj"].append(
                    f"units_in={rb.num_rows};triples_out={n_triples}"
                    f";partition={pid}")
                cols["kind"].append("metric")
                for c in ("repo", "path", "commit", "lang"):
                    cols[c].append("")
                cols["chunk_id"].append(-1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type)
                 for f in arrow_schema],
                schema=arrow_schema)

    return narrow.mapInArrow(run, EXTRACT_SCHEMA)


def split_extraction(raw: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(triples, quarantine, metrics) — quarantine/metrics feed lineage."""
    triples = raw.filter(~raw.pred.isin("__error__", "__metric__"))
    quarantine = raw.filter(raw.pred == "__error__")
    metrics = raw.filter(raw.pred == "__metric__")
    return triples, quarantine, metrics
