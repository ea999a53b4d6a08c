"""Correctness checks for the benchmark's outputs.

* `wiki_pagerank`: an independent Python/numpy implementation of the
  reference formula, computed from the same dump, against the ranked
  text file the pipeline wrote.
* corpus queries: the DuckDB result of the query's oracle SQL
  (`SparkEntry.oracleSql`), computed once per corpus and SQL text and
  cached, against the rows the JVM side collected — compared cell for
  cell after sorting columns by name and rows by value.
"""
import glob
import hashlib
import os
import pickle
import re

import duckdb
import numpy as np
import pandas as pd

TITLE = re.compile(r"<title>(.*?)</title>")
BODY = re.compile(r"<text(.*?)</text>")
LINK = re.compile(r"\[\[(.*?)\]\]")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


# ------------------------------------------------------------------ wiki

def wiki_oracle(dump, iterations=10, damping=0.85):
    """Reference PageRank over a wiki dump: {title: rank}.

    The page count N counts every non-blank line. The graph has one
    edge per [[link]] occurrence inside <text…</text> of a page with a
    title; the ranked nodes are the titles with at least one link.
    Ranks start at 1/N; each iteration is rank = (1 - d) + d * (sum of
    rank(src) / outdeg(src) over edges into the node), where outdeg
    counts every link of src, including duplicates and links to
    non-nodes, and contributions to non-nodes are dropped.
    """
    n_pages = 0
    src, dst = [], []
    with open(dump, encoding="utf-8", newline="\n") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line.strip(" "):
                continue
            n_pages += 1
            t = TITLE.search(line)
            title = t.group(1) if t else ""
            if not title:
                continue
            b = BODY.search(line)
            links = LINK.findall(b.group(1)) if b else []
            src.extend([title] * len(links))
            dst.extend(links)
    nodes = sorted(set(src))
    index = {n: i for i, n in enumerate(nodes)}
    s = np.array([index[x] for x in src], dtype=np.int64)
    outdeg = np.bincount(s, minlength=len(nodes)).astype(np.float64)
    keep = np.array([x in index for x in dst], dtype=bool)
    d = np.array([index[x] for x, k in zip(dst, keep) if k], dtype=np.int64)
    s_keep = s[keep]
    rank = np.full(len(nodes), 1.0 / n_pages)
    for _ in range(iterations):
        incoming = np.bincount(d, weights=rank[s_keep] / outdeg[s_keep],
                               minlength=len(nodes))
        rank = (1.0 - damping) + damping * incoming
    return dict(zip(nodes, rank.tolist()))


def compare_wiki(want, out_dir):
    """None if the ranked file in out_dir matches `want`, else why not."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        return f"no output in {out_dir}"
    got, order = {}, []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            for line in f:
                node, _, value = line.rstrip("\n").rpartition("\t")
                if node in got:
                    return f"node {node!r} listed twice"
                got[node] = float(value.replace(",", ""))
                order.append(got[node])
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return (f"{len(got)} nodes, want {len(want)} "
                f"(missing {missing}, unexpected {extra})")
    for node, r in want.items():
        # 10 printed decimals, plus summation-order noise.
        if abs(got[node] - r) > 1e-9 * max(1.0, abs(r)):
            return f"rank of {node!r} is {got[node]!r}, want {r!r}"
    if any(a < b for a, b in zip(order, order[1:])):
        return "output is not sorted by descending rank"
    return None


# ---------------------------------------------------------------- corpus

INTEGRAL = ("tinyint", "smallint", "int", "bigint")
FLOATING = ("float", "double")
UNESCAPE = {"\\": "\\", "t": "\t", "n": "\n", "r": "\r"}


def _field(text, kind):
    if text == "\\N":
        return None
    if kind in INTEGRAL:
        return int(text)
    if kind in FLOATING:
        return float(text)
    if kind == "boolean":
        return text == "true"
    return re.sub(r"\\(.)", lambda m: UNESCAPE.get(m.group(1), m.group(1)),
                  text)


def read_rows(path):
    """The rows the JVM side collected for one query and pass:
    (column names, [row tuple, ...]) in the file's column order."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().split("\n")[:-1]
    header = [h.partition(":") for h in lines[0].split("\t")]
    rows = [tuple(_field(t, k) for t, (_, _, k) in zip(line.split("\t"), header))
            for line in lines[1:]]
    return [n for n, _, _ in header], rows


def _plain(v):
    """A DuckDB result cell as a plain Python value; NaN and NA as None."""
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if v is None or v is pd.NA or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    return v


def _sort_key(row):
    return tuple((True, 0) if v is None else (False, v) for v in row)


def canon(columns, rows):
    """Columns sorted by name, rows by value."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    return [columns[i] for i in order], sorted(rows, key=_sort_key)


def oracle_rows(df):
    """A DuckDB result frame as canonical (columns, rows)."""
    rows = [tuple(_plain(v) for v in r)
            for r in df.itertuples(index=False, name=None)]
    return canon(list(df.columns), rows)


def compare_rows(want, got):
    """None if the canonical (columns, rows) pairs hold the same cells,
    else why not. Values compare exactly, floats included."""
    if want is None:
        return "query has no oracle SQL"
    (wc, wr), (gc, gr) = want, canon(*got)
    if wc != gc:
        return f"columns {gc}, want {wc}"
    if len(wr) != len(gr):
        return f"{len(gr)} rows, want {len(wr)}"
    bad = sum(1 for a, b in zip(wr, gr) if a != b)
    return f"{bad} rows differ" if bad else None


class CorpusOracle:
    """DuckDB oracle results over the corpus, cached on disk by corpus
    contents and SQL text, so each is computed once per checkout."""

    def __init__(self, corpus, cache_dir):
        self.corpus = corpus
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(corpus, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self.corpus_id = h.hexdigest()
        self.con = None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for t in TABLES:
                self.con.sql(f"CREATE VIEW {t} AS FROM "
                             f"read_parquet('{self.corpus}/{t}.parquet')")
        return self.con

    def result(self, name, sql):
        if sql is None:
            return None
        key = hashlib.sha256(f"{self.corpus_id}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key[:20]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = oracle_rows(self._connect().sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def close(self):
        if self.con is not None:
            self.con.close()
            self.con = None

