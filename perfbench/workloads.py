"""The benchmark's workloads: seeded inputs, the job each one runs
through the program's public API, and the oracle gate on its outputs.

Inputs are generated in this process, without Spark, before the session
starts: the program receives only the parquet tables, and input
generation does not warm the session that set-up time measures.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# PAGES_SCHEMA as parquet types: Spark reads it back with the same types
PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

GRAPH_COLS = ("subj", "subj_type", "pred", "obj", "obj_type", "url", "conf", "subj_id", "obj_id")
MENTION_COLS = ("url", "source", "start", "end", "label", "conf", "text")

# The dedup parameters of the __spark_entry__ queries dedup_drop_near and
# dedup_ngram_jaccard, which their DuckDB oracle SQL mirrors.
NEAR_DUP = dict(n_hashes=4, bands=2, n=3)
JACCARD = dict(threshold=0.5, n=3)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    corpus: str                  # "clean": synth_pages; "hot": synth_pages_hot_domain
    n_docs: int
    aggregator: str              # run_kg_pipeline's aggregator
    hmm_iters: int = 3
    mentions: bool = False       # write the mentions table beside the graph
    dedup: bool = False          # also run the two dedup operators on the corpus


WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="kg_hmm_graph",
            why="HMM aggregator, graph only, clean corpus: EM fit and the fused "
                "Viterbi+triples stage dominate; the majority voter, mentions sink "
                "and dedup are idle",
            corpus="clean", n_docs=400, aggregator="hmm", hmm_iters=3,
        ),
        Workload(
            name="kg_mv_export_dedup_skewed",
            why="hot-domain corpus (50% boilerplate from 128 templates): majority "
                "KG export of graph and mentions, plus near-dup survivors and "
                "ngram-Jaccard pairs; the HMM is idle",
            corpus="hot", n_docs=600, aggregator="majority", mentions=True, dedup=True,
        ),
    )
}


# -- inputs -----------------------------------------------------------

def generate_pages(corpus: str, n_docs: int, seed: int) -> list[dict]:
    """Page rows, in generator row order, as synth_pages /
    synth_pages_hot_domain (interleaved placement, 50% hot, 128
    templates) produce them for ``seed``."""
    from weak_supervision_for_ner_spark.sources.pages import make_page

    if corpus == "clean":
        return [make_page(i, seed)[0] for i in range(n_docs)]
    if n_docs % 2:
        raise ValueError(f"the hot-domain corpus needs an even n_docs, got {n_docs}")
    rows = []
    for i in range(n_docs):
        if i % 2 == 0:
            page = dict(make_page((i // 2) % 128, seed)[0])
            page["url"] = f"https://hot.example.net/article/{i}"
        else:
            page = dict(make_page(i, seed)[0])
            page["url"] = page["url"] + f"?p={i}"
        rows.append(page)
    return rows


def write_parquet(rows: list[dict], schema: pa.Schema, path: Path, files: int) -> None:
    """``rows`` as ``files`` parquet files of contiguous row ranges, so
    Spark scans them as ``files`` partitions in row order."""
    path.mkdir(parents=True, exist_ok=True)
    step = math.ceil(len(rows) / files)
    for k in range(files):
        chunk = rows[k * step:(k + 1) * step]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, path / f"part-{k:05d}.parquet")


def write_inputs(wl: Workload, n_docs: int, seed: int, path: Path, files: int) -> list[dict]:
    """Write the workload's input tables under ``path``; returns the page rows."""
    pages = generate_pages(wl.corpus, n_docs, seed)
    write_parquet(pages, PAGES_ARROW, path / "pages", files)
    if wl.dedup:
        # doc_id is the generator row id
        docs = [{"doc_id": i, "text": p["text"]} for i, p in enumerate(pages)]
        write_parquet(docs, DOCS_ARROW, path / "documents", files)
    return pages


# -- the job ----------------------------------------------------------

def run_job(spark, wl: Workload, inputs: Path, out: Path, tracer):
    """One batch job, from reading the input tables to committed output
    tables. Returns the mentions DataFrame the pipeline returned (lazy
    and cached on the graph-only path), for the gate."""
    from weak_supervision_for_ner_spark.operators.annotate import write_mentions
    from weak_supervision_for_ner_spark.operators.triples import write_graph
    from weak_supervision_for_ner_spark.plans.pipeline import run_kg_pipeline

    pages = spark.read.parquet(str(inputs / "pages"))
    _annotated, mentions, graph = run_kg_pipeline(
        spark, pages, aggregator=wl.aggregator, hmm_iters=wl.hmm_iters,
        mentions_consumed=wl.mentions,
    )
    tracer.call("sinks.graph", write_graph, graph, str(out / "graph"))
    if wl.mentions:
        tracer.call("sinks.mentions", write_mentions, mentions, str(out / "mentions"))
    if wl.dedup:
        from weak_supervision_for_ner_spark.operators.dedup import (
            drop_near_duplicates,
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet(str(inputs / "documents"))
        tracer.call("dedup.drop_near_duplicates", _write,
                    lambda: drop_near_duplicates(docs, **NEAR_DUP).select("doc_id"),
                    out / "survivors")
        tracer.call("dedup.ngram_jaccard_pairs", _write,
                    lambda: ngram_jaccard_pairs(docs, **JACCARD), out / "pairs")
    return mentions


def _write(build, path: Path) -> None:
    build().write.mode("overwrite").parquet(str(path))


# -- the gate ---------------------------------------------------------

def _canon(row) -> str:
    """One row as text. Floats compare at 6 decimals, as the
    repository's oracle tests do."""
    def value(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        return "\\N" if v is None else str(v)

    return "\x1f".join(value(v) for v in row)


def digest(rows) -> tuple[int, str]:
    """Order-independent digest of a row multiset: its size and a
    sha256 over the sorted canonical rows."""
    canon = sorted(_canon(row) for row in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def read_table(path: Path, cols: tuple[str, ...], partition: str | None = None) -> list[tuple]:
    """Rows of a parquet table written by Spark, hive partition column included."""
    part = ds.partitioning(pa.schema([(partition, pa.string())]), flavor="hive") if partition else None
    table = ds.dataset(str(path), format="parquet", partitioning=part).to_table(columns=list(cols))
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


@dataclass
class Expected:
    tables: dict[str, tuple[int, str]]       # output dir -> digest of the gated rows
    hmm_history: list[float] | None = None
    hmm_mentions: tuple[int, str] | None = None
    # Dedup doc_ids of fewer than 3 words, and the oracle's rows that
    # touch them. The gate leaves these rows out: on such pages the
    # dedup operators and the oracle SQL disagree. word_shingles gives
    # each one a single shingle of its whole text, so identical short
    # pages (the generator's empty pages) pair at Jaccard 1.0 and
    # collapse to one survivor, while the SQL gives them no shingle and
    # keeps them all. A short page shares no shingle with a longer one,
    # so the other rows do not depend on them. short_page_diffs counts
    # the disagreement, so it stays in the benchmark's output.
    short_docs: frozenset[int] = frozenset()
    short_rows: dict[str, set[str]] = field(default_factory=dict)


def _split_short(name: str, rows: list[tuple], short: frozenset[int]):
    """(gated rows, canonical rows on short docs) of a dedup table."""
    if name not in ("survivors", "pairs") or not short:
        return rows, set()
    ids = 1 if name == "survivors" else 2
    touches = [any(r[k] in short for k in range(ids)) for r in rows]
    return ([r for r, t in zip(rows, touches) if not t],
            {_canon(r) for r, t in zip(rows, touches) if t})


def oracle_hmm_graph(annotated: list[dict], mentions: list[tuple]) -> list[tuple]:
    """The graph of run_kg_pipeline(aggregator="hmm") from the oracle's
    decoded mentions: entity correction and triple extraction per doc,
    as extract_triples_hmm_fused does, then the linking, minhash-LSH
    canonicalization and max-conf dedup of plans.oracle.oracle_graph."""
    from weak_supervision_for_ner_spark.operators.entity_correction import (
        correct_spans_with_conf,
    )
    from weak_supervision_for_ner_spark.operators.triples import (
        _local_components,
        extract_triples_from_doc,
    )
    from weak_supervision_for_ner_spark.plans.oracle import _minhash_signature, _norm_surface
    from weak_supervision_for_ner_spark.sources.gazetteer import canonical_entity_ids

    by_url: dict[str, list] = {}
    for (url, _src, s, e, lab, conf, _txt) in mentions:
        by_url.setdefault(url, []).append((s, e, lab, conf))
    raw = []
    for doc in annotated:
        tokens = list(doc["tokens"])
        ments = correct_spans_with_conf(tokens, by_url.get(doc["url"], []))
        raw.extend(extract_triples_from_doc(doc["url"], tokens, ments))

    # oracle_graph's tail, with the pipeline's canonicalize_triples
    # defaults: 16 hashes, 4 bands, buckets of at most 64 names
    kb = canonical_entity_ids()
    normed = [(row, _norm_surface(row[0]), _norm_surface(row[3])) for row in raw]
    unlinked = sorted({n for _row, sn, on in normed for n in (sn, on) if kb.get(n) is None})
    sig_rows = [{"name": name, **{f"h{i}": h for i, h in enumerate(_minhash_signature(name, 16))}}
                for name in unlinked]
    mapping = _local_components(sig_rows, 16, 4, 64, stats=None)
    best: dict[tuple, tuple] = {}
    for (subj, st, pred, obj, ot, url, conf), sn, on in normed:
        sid = kb[sn] if kb.get(sn) is not None else "ent:" + mapping.get(sn, sn)
        oid = kb[on] if kb.get(on) is not None else "ent:" + mapping.get(on, on)
        key = (sid, pred, oid, url)
        rank = (-conf, subj, st, obj, ot)
        if key not in best or rank < best[key][0]:
            best[key] = (rank, (subj, st, pred, obj, ot, url, conf, sid, oid))
    return [row for _rank, row in best.values()]


def expected_outputs(wl: Workload, pages: list[dict], inputs: Path) -> Expected:
    """The oracles' answer for this input: the single-node pipeline
    mirror (plans/oracle.py) and the DuckDB SQL of __spark_entry__.oracle_sql()."""
    from weak_supervision_for_ner_spark.plans import oracle

    exp = Expected(tables={})
    if wl.aggregator == "majority":
        exp.tables["graph"] = digest(oracle.oracle_graph(pages))
    annotated = None
    if wl.mentions or wl.aggregator == "hmm":
        annotated = oracle.oracle_annotate(pages, form_freqs=oracle.oracle_form_frequencies(pages))
    if wl.mentions:
        exp.tables["mentions"] = digest(oracle.oracle_majority_mentions(annotated))
    if wl.aggregator == "hmm":
        model = oracle.oracle_hmm_fit(annotated, n_iter=wl.hmm_iters)
        hmm_mentions = oracle.oracle_hmm_mentions(model, annotated)
        exp.hmm_history = list(model.history)
        exp.hmm_mentions = digest(_mention_keys(hmm_mentions))
        exp.tables["graph"] = digest(oracle_hmm_graph(annotated, hmm_mentions))
    if wl.dedup:
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            glob = str(inputs / "documents" / "*.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
            exp.short_docs = frozenset(i for i, p in enumerate(pages)
                                       if len(p["text"].split(" ")) < JACCARD["n"])
            for name, query in (("survivors", "dedup_drop_near"), ("pairs", "dedup_ngram_jaccard")):
                gated, exp.short_rows[name] = _split_short(
                    name, con.execute(sql[query]).fetchall(), exp.short_docs)
                exp.tables[name] = digest(gated)
        finally:
            con.close()
    return exp


_TABLES = {
    "graph": (GRAPH_COLS, "pred"),
    "mentions": (MENTION_COLS, "source"),
    "survivors": (("doc_id",), None),
    "pairs": (("a", "b", "jaccard"), None),
}


def _mention_keys(rows) -> list[tuple]:
    # the comparison test_hmm_spark_fit_and_decode makes
    return [(r[0], r[1], int(r[2]), int(r[3]), r[4], float(r[5])) for r in rows]


def check_outputs(wl: Workload, out: Path, exp: Expected, mentions, fitted) -> list[str]:
    """Mismatches between one job's outputs and the oracles; empty when
    the job is correct."""
    errors = []
    for name, want in exp.tables.items():
        cols, partition = _TABLES[name]
        gated, _short = _split_short(name, read_table(out / name, cols, partition), exp.short_docs)
        got = digest(gated)
        if got != want:
            errors.append(f"{name}: {got[0]} rows, digest {got[1][:12]}; "
                          f"oracle {want[0]} rows, digest {want[1][:12]}")
    if exp.hmm_history is not None:
        history = list(fitted[-1].history) if fitted else []
        if len(history) != len(exp.hmm_history) or not all(
            math.isclose(a, b, rel_tol=1e-9) for a, b in zip(history, exp.hmm_history)
        ):
            errors.append(f"hmm history {history} != oracle {exp.hmm_history}")
        got = digest(_mention_keys(mentions.select(*MENTION_COLS[:6]).collect()))
        if got != exp.hmm_mentions:
            errors.append(f"hmm mentions: {got[0]} rows; oracle {exp.hmm_mentions[0]} rows")
    return errors


def short_page_diffs(out: Path, exp: Expected) -> dict[str, int]:
    """Rows on dedup pages of fewer than 3 words that are in only one
    of the job's output and the oracle's (see Expected.short_rows)."""
    diffs = {}
    for name, want in exp.short_rows.items():
        cols, partition = _TABLES[name]
        _gated, got = _split_short(name, read_table(out / name, cols, partition), exp.short_docs)
        diffs[name] = len(got ^ want)
    return diffs
