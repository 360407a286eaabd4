"""Output checks, run after the timed region. Each check returns a list
of failure messages (empty when the output is correct) and takes the
run's work directory: `input/` (generated), `<last pass>/` and
`out/check/` (written by the JVM)."""
import json
import os
from pathlib import Path

import duckdb
import pandas as pd


def _read_tsv_lines(d):
    lines = []
    for p in sorted(Path(d).glob("part-*")):
        lines += [l for l in p.read_text().split("\n") if l]
    return lines


def check_refjob(work, last_output):
    """Job 1 against the set-based termDocMatrix path; Job 2 by
    recomputing every term's cosine argmin in DuckDB from Job 1's TSV
    and the centers file."""
    fails = []
    job1 = _read_tsv_lines(last_output)
    ref = _read_tsv_lines(Path(work) / "out" / "check" / "matrix")
    if not job1:
        fails.append("refjob: Job 1 wrote no lines")
    if sorted(job1) != sorted(ref):
        fails.append(f"refjob: Job 1 differs from termDocMatrix "
                     f"({len(set(job1) ^ set(ref))} lines differ)")
    centers = [l.strip() for l in
               (Path(work) / "input" / "centers.txt").read_text().split("\n")
               if l.strip()]
    con = duckdb.connect()
    con.execute("CREATE TABLE centers(center_id INT, cvec DOUBLE[])")
    con.executemany("INSERT INTO centers VALUES (?, ?)",
                    [(i, [float(x) for x in c.strip("[]").split(",") if x])
                     for i, c in enumerate(centers)])
    con.execute("CREATE TABLE job1(term VARCHAR, vec VARCHAR)")
    con.executemany("INSERT INTO job1 VALUES (?, ?)",
                    [tuple(l.split("\t", 1)) for l in job1])
    expected = con.sql("""
        WITH pts AS (
          SELECT term, list_transform(string_split(trim(vec, '[],'), ','),
                                      x -> CAST(x AS DOUBLE)) AS v FROM job1),
        d AS (
          SELECT term, center_id,
                 1.0 - list_inner_product(v, cvec) /
                   (sqrt(list_inner_product(v, v)) *
                    sqrt(list_inner_product(cvec, cvec))) AS dist
          FROM pts, centers),
        best AS (
          SELECT term, center_id FROM (
            SELECT *, row_number() OVER (PARTITION BY term
                                         ORDER BY dist, center_id) AS rn
            FROM d) WHERE rn = 1)
        SELECT dense_rank() OVER (ORDER BY center_id) AS cluster_id,
               string_agg(term, ' ' ORDER BY term) AS members
        FROM best GROUP BY center_id ORDER BY center_id""").fetchall()
    exp_lines = sorted(f"{k}\t{m}" for k, m in expected)
    job2 = sorted(_read_tsv_lines(Path(last_output) / "kmeansOutput6"))
    if job2 != exp_lines:
        fails.append("refjob: Job 2 clusters differ from the DuckDB argmin")
    return fails


def check_corpus(work, _last_output):
    """Exact-dedup survivors against DuckDB; verified pairs against
    their connected components (union-find here); stage counts and
    search results for internal consistency."""
    fails = []
    chk = Path(work) / "out" / "check"
    docs = Path(work) / "input" / "tables" / "documents.parquet"
    con = duckdb.connect()
    want = [r[0] for r in con.sql(f"""
        SELECT min(doc_id) FROM '{docs}'
        WHERE len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> length(t) > 0)) >= 8
          AND (length(text) - length(regexp_replace(text, '\\p{{P}}', '', 'g')))
              / greatest(length(text), 1) <= 0.2
        GROUP BY text ORDER BY 1""").fetchall()]
    got = sorted(pd.read_parquet(chk / "exact")["doc_id"].tolist())
    if got != want:
        fails.append(f"corpus: exact-dedup survivors differ from DuckDB "
                     f"({len(got)} vs {len(want)})")
    rep = json.loads((chk / "report.json").read_text())
    n_docs = con.sql(f"SELECT count(*) FROM '{docs}'").fetchone()[0]
    stages = [rep[k] for k in ("input", "after_quality", "after_lang",
                               "after_exact", "after_near_dup", "after_balance")]
    if rep["input"] != n_docs or rep["after_exact"] != len(want) or \
            stages != sorted(stages, reverse=True):
        fails.append(f"corpus: curate report inconsistent: {rep}")
    pairs = pd.read_parquet(chk / "pairs")
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(pairs["d1"], pairs["d2"]):
        if a >= b:
            fails.append(f"corpus: pair ({a}, {b}) not ordered")
            break
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    comp = {v: find(v) for v in list(parent)}
    cc = pd.read_parquet(chk / "cc")
    got_cc = dict(zip(cc["v"], cc["component"]))
    if not pairs.empty and got_cc != comp:
        fails.append(f"corpus: connected components disagree with the verified "
                     f"pairs ({sum(got_cc.get(v) != c for v, c in comp.items())} vertices)")
    by_q = {}
    for line in (chk / "search.tsv").read_text().split("\n"):
        if line:
            q, d, s, r = line.split("\t")
            by_q.setdefault(q, []).append((int(r), float(s), d))
    if not by_q:
        fails.append("corpus: no search returned a result")
    for q, rows in by_q.items():
        rows.sort()
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or \
                len(rows) > 10 or len({d for _, _, d in rows}) != len(rows) or \
                any(rows[i][1] < rows[i + 1][1] for i in range(len(rows) - 1)):
            fails.append(f"corpus: search {q} result is not a ranked top-10")
    return fails


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def check_queries(work, _last_output):
    """Every query's result against its registered DuckDB oracle SQL over
    the same generated tables, compared as the repository's oracle
    harness does (columns by name, then cell by cell as text)."""
    fails = []
    chk = Path(work) / "out" / "check"
    tables = Path(work) / "input" / "tables"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables / t}.parquet'")
    oracle = json.loads((chk / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        try:
            got = _canon(pd.read_parquet(chk / name))
            want = _canon(con.sql(sql).df())
        except Exception as e:  # an unreadable output is a failed check
            fails.append(f"queries: {name}: {e}")
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            fails.append(f"queries: {name}: shape {got.shape} vs oracle {want.shape}")
            continue
        for c in got.columns:
            if not (got[c].astype(str) == want[c].astype(str)).all():
                fails.append(f"queries: {name}: column {c} differs from the oracle")
                break
    return fails


CHECKS = {"refjob": check_refjob, "corpus": check_corpus,
          "queries": check_queries}
