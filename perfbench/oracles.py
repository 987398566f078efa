"""DuckDB twins that decide whether the program's outputs are correct.

Expected answers depend on the generated inputs and on the program's
own definitions (tokenizer, stemmer, registry oracle SQL), so each is
computed once per input set and program digest, and cached next to the
inputs.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import tempfile
from decimal import Decimal

import duckdb
import pyarrow as pa


def _connect(tables: dict[str, str]):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def cached_json(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _canon(v) -> str:
    """One rendering per value whichever engine produced it: numbers as
    Python floats, dates and times in ISO form."""
    if v is None:
        return "null"
    if isinstance(v, (float, Decimal)):
        return repr(float(v))
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def value_hash(columns, rows) -> dict:
    """Order-insensitive digest of a result: row count, column names and
    a hash of the sorted, canonically rendered rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "columns": sorted(columns), "hash": h}


def _tok_cte(docs_view: str = "documents") -> str:
    from searchengine_spark.text.tokenizer import sql_tokens_expr

    return (
        f"tok AS (SELECT doc_id, unnest({sql_tokens_expr('text')}) AS word "
        f"FROM {docs_view})"
    )


def bm25_topk(docs_path: str, queries: list[list[str]], k: int) -> list[list]:
    """Per query, every (doc_id, score) whose score rounded to 6 places is
    at least the k-th best: the top-k plus anything tied with it. The
    index is the registry's own BM25 index definition; only the join with
    several queries and the ranking are the benchmark's."""
    from searchengine_spark.index.queries import B, K1, index_body_sql

    qterms = ", ".join(
        f"({i}, '{w}')" for i, terms in enumerate(queries) for w in sorted(set(terms))
    )
    sql = f"""
    WITH {_tok_cte()}{index_body_sql()},
    q(qid, word) AS (VALUES {qterms}),
    scored AS (
      SELECT q.qid, tf.doc_id,
             idf.idf * (tf.term_freq * {K1 + 1.0}) /
               (tf.term_freq + {K1} * (1.0 - {B} + {B} * dl.doc_length /
                 (SELECT avgdl FROM params))) AS s
      FROM tf JOIN q ON tf.word = q.word
      JOIN idf ON tf.word = idf.word JOIN dl ON tf.doc_id = dl.doc_id
    ),
    totals AS (
      SELECT qid, doc_id, round(sum(s), 6) AS score FROM scored GROUP BY ALL
    ),
    ranked AS (
      SELECT *, rank() OVER (PARTITION BY qid ORDER BY score DESC) AS r FROM totals
    )
    SELECT qid, doc_id, score FROM ranked WHERE r <= {k} ORDER BY qid, score DESC, doc_id
    """
    con = _connect({"documents": docs_path})
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    out: list[list] = [[] for _ in queries]
    for qid, doc_id, score in rows:
        out[qid].append([int(doc_id), float(score)])
    return out


def check_topk(got: list[dict], expected: list[list], k: int) -> str | None:
    """None when ``got`` (the served hits) is a correct top-k: the same
    scores as the oracle's best k, and every hit a doc with that score."""
    want = {d: s for d, s in expected}
    exp_scores = sorted((s for _, s in expected), reverse=True)[:k]
    got_scores = [h["total_score"] for h in got]
    if len(got_scores) != len(exp_scores):
        return f"{len(got_scores)} hits, expected {len(exp_scores)}"
    for h, s in zip(got, exp_scores):
        if abs(h["total_score"] - s) > 1e-6:
            return f"score {h['total_score']} where the oracle has {s}"
        if h["doc_id"] not in want or abs(want[h["doc_id"]] - h["total_score"]) > 1e-6:
            return f"doc {h['doc_id']} is not among the oracle's top {k}"
    return None


def stemmed_index_stats(docs_path: str, cuts: dict[str, int]) -> dict[str, dict]:
    """Size and document frequencies of the stemmed index over the
    documents with doc_id < each cut. DuckDB tokenizes; each distinct
    token is stemmed once with the program's reference Porter stemmer
    (the registry's stemmed oracles take the same route), and the index
    is the registry's BM25 index definition over the stemmed tokens."""
    from searchengine_spark.index.queries import index_body_sql
    from searchengine_spark.text.porter import porter_stem

    con = _connect({"documents": docs_path})
    out = {}
    try:
        con.execute(f"CREATE TEMP TABLE t AS WITH {_tok_cte()} SELECT * FROM tok")
        words = [w for (w,) in con.execute("SELECT DISTINCT word FROM t").fetchall()]
        con.register("stem", pa.table({"word": words, "stem": [porter_stem(w) for w in words]}))
        for name, below in cuts.items():
            index = (f"WITH tok AS (SELECT doc_id, stem.stem AS word FROM t "
                     f"JOIN stem USING (word) WHERE doc_id < {below}){index_body_sql()}")
            n_docs, total = con.execute(
                f"{index} SELECT (SELECT n_docs FROM params), (SELECT sum(term_freq) FROM tf)"
            ).fetchone()
            df = con.execute(f"{index} SELECT word, doc_freq FROM idf").fetchall()
            out[name] = {"n_docs": int(n_docs), "sum_tf": int(total),
                         "doc_freq": value_hash(["word", "doc_freq"], df)}
    finally:
        con.close()
    return out


def curate_expected(docs_path: str) -> dict:
    """The registry's curation oracles over the generated corpus: the
    keep-list, and how many documents each stage dropped."""
    from searchengine_spark.pipeline import ORACLES

    con = _connect({"documents": docs_path})
    try:
        keep = sorted(int(d) for (d,) in con.execute(ORACLES["pipeline_curated_docs"]).fetchall())
        verdicts = dict(
            con.execute(
                f"SELECT verdict, count(*) FROM ({ORACLES['pipeline_drop_reasons']}) GROUP BY 1"
            ).fetchall()
        )
    finally:
        con.close()
    return {"keep": keep, "verdicts": {k: int(v) for k, v in verdicts.items()}}


def registry_answers(tables_dir: str, sql: dict[str, str]) -> dict[str, dict]:
    """``value_hash`` of each registry oracle's answer over the tables in
    ``tables_dir``."""
    views = {os.path.splitext(f)[0]: os.path.join(tables_dir, f)
             for f in sorted(os.listdir(tables_dir)) if f.endswith(".parquet")}
    con = _connect(views)
    try:
        out = {}
        for name, q in sql.items():
            cur = con.execute(q)
            out[name] = value_hash([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return out


def program_digest(package_dir: str) -> str:
    """Digest of the program's sources. Expected answers computed with the
    program's own oracle SQL, tokenizer or stemmer are cached under it, so
    a changed program never reads answers an older one computed."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, package_dir).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]
