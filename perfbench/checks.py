"""Untimed output checks. Each returns a list of (name, ok, detail).

The release check counts expected rows with DuckDB running the program's
own oracle SQL over the same generated tables; the retrieval check
recomputes both recall figures with numpy from the artifacts the
pipeline wrote. Neither trusts a number the pipeline printed.
"""
import json
import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import SIZES, TABLES

# Release stages whose rows are exactly one harness query's rows.
RELEASE_ORACLE = {
    "entry2xrefs": "xref_entry_bundle", "domain_orgs": "xref_domorg",
    "taxa_rollup": "agg_rollup_salted", "webfront_entry": "mart_entry_counts",
    "release_stats": "agg_release_stats", "release_notes_diff": "agg_release_diff",
    "entry_taxa_trees": "agg_tree_ranks", "clan_graphs": "agg_clan_graph",
    "signature_hierarchy": "sig_hierarchy", "protein2ipr": "sink_flatfile_tsv",
    "es_docs": "fanout_docs"}
RELEASE_STAGES = [
    "protein2matches", "protein2matches_kv", "entry2xrefs", "domain_orgs",
    "taxa_rollup", "webfront_entry", "release_stats", "release_notes_diff",
    "entry_taxa_trees", "clan_graphs", "signature_hierarchy", "protein2ipr",
    "match_complete.xml", "es_docs"]

# RetrievalPipeline's constants: 8 cells, 50 queries, top 5.
N_EMB, N_QUERIES, TOP_K = SIZES["embeddings"], 50, 5
RETRIEVAL_COUNTS = {
    "embeddings_raw": N_EMB, "index_built": N_EMB // 2, "index_cells": 8,
    "index_after_append": N_EMB, "search_results": N_QUERIES * TOP_K,
    "recall_expected": N_QUERIES * TOP_K,
    "stream_rerank_results": N_QUERIES * TOP_K,
    "rerank_recall_expected": N_QUERIES * TOP_K}
RETRIEVAL_STAGES = [
    "embeddings_raw", "index_built", "index_cells", "index_after_append",
    "search_results", "recall_expected", "recall_hits",
    "stream_rerank_results", "rerank_recall_expected", "rerank_recall_hits"]
# Both recalls read 0.51-0.62 on every seed tried when this floor was
# set; a change that trades recall for speed falls below it.
RECALL_FLOOR = 0.45


def oracle_counts(data_dir, oracle_sql, work_dir):
    """{query: expected row count} from DuckDB over the generated tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return {q: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for q, sql in oracle_sql.items()}


def _xml_ok(path):
    import xml.etree.ElementTree as ET
    try:
        n = sum(1 for _ in ET.iterparse(path))
        return n > 1, f"{n} elements"
    except ET.ParseError as e:
        return False, str(e)


def release(runs, expected, out_dir):
    """`runs`: the stage maps of every invocation; `out_dir`: the last
    invocation's outDir."""
    res = []
    first = runs[0]
    res.append(("stage_names", all(list(r) == RELEASE_STAGES for r in runs),
                list(first)))
    res.append(("deterministic", all(r == first for r in runs),
                f"{len(runs)} invocations"))
    res.append(("protein2matches_nonempty", first.get("protein2matches", 0) > 0,
                first.get("protein2matches")))
    res.append(("kv_roundtrip",
                first.get("protein2matches_kv") == first.get("protein2matches"),
                first.get("protein2matches_kv")))
    for stage, query in RELEASE_ORACLE.items():
        res.append((f"oracle_{stage}", first.get(stage) == expected.get(query),
                    f"{first.get(stage)} vs {expected.get(query)}"))
    ok, detail = _xml_ok(os.path.join(out_dir, "match_complete.xml"))
    res.append(("match_complete_xml", ok and first.get("match_complete.xml") == 1,
                detail))
    res.append(("es_docs_sentinel",
                os.path.exists(os.path.join(out_dir, "es_docs", "_DONE")), ""))
    return res


def _cells(out_dir):
    t = ds.dataset(os.path.join(out_dir, "index", "cells"), format="parquet",
                   partitioning="hive").to_table(columns=["vec_id", "ma", "q"])
    ids = t.column("vec_id").to_numpy()
    ma = t.column("ma").to_numpy().astype(np.float64)
    q = np.array(t.column("q").to_pylist(), dtype=np.int64)
    return ids, ma, q


def _pairs(path):
    t = ds.dataset(path, format="parquet").to_table(columns=["qid", "vec_id"])
    return set(zip(t.column("qid").to_pylist(), t.column("vec_id").to_pylist()))


def _topk(score_rows, ids, k):
    """Per query row: ids of the k best (score ascending, id ascending)."""
    out = []
    for s in score_rows:
        order = np.lexsort((ids, s))
        out.append(ids[order[:k]])
    return out


def recall_hits(out_dir, data_dir):
    """(IVF hits, re-rank hits), recomputed from the pipeline's artifacts."""
    ids, ma, q = _cells(out_dir)
    pos = {v: i for i, v in enumerate(ids)}
    queries = list(range(N_QUERIES))
    scores = []
    for qid in queries:
        s = -((q @ q[pos[qid]]).astype(np.float64) * ma)
        s[pos[qid]] = np.inf
        scores.append(s)
    truth = [(qid, int(v)) for qid, top in zip(queries, _topk(scores, ids, TOP_K))
             for v in top]
    ivf = len(set(truth) & _pairs(os.path.join(out_dir, "results")))

    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    eids = emb.column("vec_id").to_numpy()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32) \
        .astype(np.float64)
    epos = {v: i for i, v in enumerate(eids)}
    scores = []
    for qid in queries:
        d = np.round(((vecs - vecs[epos[qid]]) ** 2).sum(axis=1), 6)
        d[epos[qid]] = np.inf
        scores.append(d)
    truth = [(qid, int(v)) for qid, top in zip(queries, _topk(scores, eids, TOP_K))
             for v in top]
    rerank = len(set(truth) & _pairs(os.path.join(out_dir, "rerank", "data")))
    return ivf, rerank


def retrieval(outputs, out_dir, data_dir):
    """`outputs`: the final JSON object of every invocation."""
    res = []
    first = outputs[0]["stages"]
    res.append(("stage_names",
                all(list(o["stages"]) == RETRIEVAL_STAGES for o in outputs),
                list(first)))
    res.append(("deterministic", all(o["stages"] == first for o in outputs),
                f"{len(outputs)} invocations"))
    for k, v in RETRIEVAL_COUNTS.items():
        res.append((k, first.get(k) == v, f"{first.get(k)} vs {v}"))
    ivf, rerank = recall_hits(out_dir, data_dir)
    res.append(("recall_hits", first.get("recall_hits") == ivf,
                f"{first.get('recall_hits')} vs {ivf}"))
    res.append(("rerank_recall_hits", first.get("rerank_recall_hits") == rerank,
                f"{first.get('rerank_recall_hits')} vs {rerank}"))
    for key, hits in (("recall_at_5", ivf), ("rerank_recall_at_5", rerank)):
        got = outputs[0].get(key, -1.0)
        res.append((key, abs(got - hits / (N_QUERIES * TOP_K)) < 1e-9 and
                    got >= RECALL_FLOOR, f"{got} (floor {RECALL_FLOOR})"))
    return res


def census(invocations, expected_names):
    """`invocations`: (rows, summary) per Bench run; `expected_names`: the
    query names each run was asked for. Returns (checks, attempted, failed)."""
    res, attempted, failed = [], 0, 0
    for (rows, summary), names in zip(invocations, expected_names):
        got = [r["name"] for r in rows]
        attempted += len(names)
        failed += sum(1 for r in rows if not r["ok"]) + len(set(names) - set(got))
        res.append(("rows", sorted(got) == sorted(names),
                    f"{len(got)} of {len(names)}"))
        res.append(("summary", summary is not None and
                    summary.get("n_queries") == len(names) and
                    summary.get("n_failed") == 0, json.dumps(summary)))
    return res, attempted, failed
