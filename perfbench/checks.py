"""Output checks, run outside the timed section.

Queries with an ``all_oracles()`` entry are compared with DuckDB on the
same generated inputs using the order-insensitive canonical compare of
``tools/diff_oracle.py`` (columns sorted by name, cells canonicalized,
rows sorted, exact equality). The two corpus steps that are hash-seeded
and have no oracle are checked against invariants; perfbench/README.md
states and justifies them.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from diff_oracle import TABLES, rows_to_canon  # noqa: E402

# Bloom screen design bound (operators/bloom.py, 2^20 bits, 3 hashes):
# false positives stay under 1% of the screened documents.
BLOOM_FP_MAX = 0.01
# minhash_lsh_survivors' default verify threshold.
MINHASH_THRESHOLD = 0.9


# Per document: does a lower-id document share its token set (must be
# pruned), and does one pass the survivors operator's exact verify (may
# be pruned)? Token sets as the operator builds them: distinct tokens of
# the lower-cased text split on single spaces.
MINHASH_TRUTH = f"""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct(string_split(lower(text), ' '))) AS toks
      FROM documents
    ),
    p AS (
      SELECT b.doc_id, a.toks = b.toks AS same_set,
             len(a.toks) AS na, len(b.toks) AS nb,
             len(list_intersect(a.toks, b.toks)) AS inter
      FROM t a JOIN t b ON a.doc_id < b.doc_id
    ),
    flags AS (
      SELECT doc_id, bool_or(same_set) AS must,
             bool_or(CAST(least(na, nb) AS DOUBLE)
                       >= CAST({MINHASH_THRESHOLD} AS DOUBLE) * CAST(greatest(na, nb) AS DOUBLE)
                     AND CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
                       >= CAST({MINHASH_THRESHOLD} AS DOUBLE)) AS may
      FROM p GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(flags.must, false), coalesce(flags.may, false)
    FROM t LEFT JOIN flags USING (doc_id)
"""


class Oracle:
    """DuckDB over the generated tables. Each oracle query runs once, when
    a check first needs it, and its result is kept for every later
    attempt of the same op."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        from film_media_etl_spark.queries import all_oracles

        self.sql = dict(all_oracles(), minhash_truth=MINHASH_TRUTH)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self._results: dict[str, tuple[list[str], list[tuple]]] = {}

    def result(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._results:
            res = self.con.execute(self.sql[name])
            self._results[name] = [d[0] for d in res.description], res.fetchall()
        return self._results[name]

    def rows(self, name: str) -> list[tuple]:
        return self.result(name)[1]

    def close(self) -> None:
        self.con.close()

    def compare(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when Spark's rows equal the oracle's, else a short reason."""
        sc, sv = rows_to_canon(cols, rows)
        oc, ov = rows_to_canon(*self.result(name))
        if sc != oc:
            return f"columns {sc} != oracle {oc}"
        if len(sv) != len(ov):
            return f"{len(sv)} rows != oracle {len(ov)}"
        for a, b in zip(sv, ov):
            if a != b:
                return f"row {a} != oracle {b}"
        return None

    def minhash_survivors(self, rows: list) -> str | None:
        """Sandwich invariant for ext_dedup_minhash_survivors (doc_id,
        pruned): one row per document; every document whose token set
        equals a lower-id document's is pruned (identical token sets give
        identical signatures, so they collide in every band and verify
        with Jaccard 1); and every pruned document has a lower-id partner
        passing the operator's own exact verify (size ratio and token-set
        Jaccard >= threshold), which the banded probe can only narrow."""
        res = self.rows("minhash_truth")
        truth = {d: (must, may) for d, must, may in res}
        got = {}
        for r in rows:
            if r["doc_id"] in got:
                return f"doc {r['doc_id']} listed twice"
            got[r["doc_id"]] = r["pruned"]
        if set(got) != set(truth):
            return f"{len(got)} documents != {len(truth)} in the corpus"
        for d, (must, may) in truth.items():
            if must and not got[d]:
                return f"doc {d} kept although a lower-id document has its token set"
            if got[d] and not may:
                return f"doc {d} pruned without a lower-id partner at Jaccard >= {MINHASH_THRESHOLD}"
        if not any(m for m, _ in truth.values()):
            return "no two documents share a token set; the invariant is vacuous"
        return None

    def bloom_screen(self, rows: list) -> str | None:
        """ext_decontamination_bloom (source, n_train_docs, n_flagged,
        flag_rate) against the exact screen's oracle (ext_decontamination,
        same shingles and eval set): same sources and training counts, no
        false negatives (exact <= bloom <= training docs per source), the
        rate is the count ratio, and false positives stay within the
        bitmap's design bound."""
        exact = {src: (n, k) for src, n, k, _ in self.rows("ext_decontamination")}
        got = {r["source"]: (r["n_train_docs"], r["n_flagged"], r["flag_rate"]) for r in rows}
        if set(got) != set(exact):
            return f"sources {sorted(got)} != exact screen's {sorted(exact)}"
        fp = 0
        for src, (n, k) in exact.items():
            gn, gk, rate = got[src]
            if gn != n:
                return f"{src}: {gn} training docs != {n}"
            if not k <= gk <= n:
                return f"{src}: flagged {gk} outside [{k}, {n}]"
            if rate != gk / gn:
                return f"{src}: flag_rate {rate!r} != {gk}/{gn}"
            fp += gk - k
        n_train = sum(n for n, _ in exact.values())
        if fp > BLOOM_FP_MAX * n_train:
            return f"{fp} false positives over {n_train} documents exceed {BLOOM_FP_MAX:.0%}"
        return None
