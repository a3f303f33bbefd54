"""Reference answers, computed outside the timed window.

- BM25 top-k: `solr_spark.oracle.bm25_oracle.OracleIndex`, the
  single-node pure-Python oracle (no Spark code shared except the
  analyzer definition). Docids and order must match and scores agree to
  1e-6. Ordering uses the engine's documented contract: score rounded
  to 9 decimals descending, then docid ascending, so a float-sum tie
  cannot flip a check.
- Phrases: the DuckDB twin of `phrase_match_sql` over the same documents,
  tokenized by the SQL form of the analyzer.
"""

from __future__ import annotations

SCORE_TOL = 1e-6


class RankOracle:
    def __init__(self, docs: list[tuple[int, str]]):
        from solr_spark.oracle.bm25_oracle import OracleIndex

        self.index = OracleIndex.build(docs)

    def expected(
        self, qtext: str, k: int, mode: str = "OR", deleted: frozenset = frozenset(),
    ) -> list[tuple[int, float]]:
        """Top-k over live docs, ordered by (score rounded to 9 decimals
        desc, docid asc). Statistics stay build-time under pending
        deletes (the engine's documented liveDocs semantics), so removing
        deleted docs from the full ranking gives the live ranking."""
        # the whole ranking, so the docid tie-break of equal rounded scores
        # reaches past any exact-score cut-off
        hits = self.index.search(qtext, k=self.index.n_docs, mode=mode)
        live = [(d, s) for d, s in hits if d not in deleted]
        live.sort(key=lambda x: (-round(x[1], 9), x[0]))
        return live[:k]


def rank_mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when `got` equals `want` in docids, order and score (1e-6)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"docids {[d for d, _ in got][:5]}.. != {[d for d, _ in want][:5]}.."
    for (d, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"docid {d}: score {gs!r} != {ws!r}"
    return None


class PhraseOracle:
    """`phrase_match_sql`'s matching algebra (`tokens_sql` plus
    `chain_match_count_sql`) in DuckDB, with the tokenization hoisted into
    a table built once per run instead of once per phrase."""

    def __init__(self, docs: list[tuple[int, str]]):
        import duckdb
        import pyarrow as pa

        from solr_spark.analysis.analyzer import tokens_sql

        self.con = duckdb.connect()
        self.con.register("documents", pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }))
        self.con.execute(
            f"CREATE TABLE toks AS SELECT doc_id AS docid, {tokens_sql('text')} AS toks "
            "FROM documents"
        )

    def expected(self, words: list[str], slop: int) -> dict[int, int]:
        """{docid: phrase_freq} of the ordered phrase with `slop`."""
        from solr_spark.analysis.analyzer import tokenize_py
        from solr_spark.query.positions import chain_match_count_sql

        pos = [
            f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']"
            for t in tokenize_py(" ".join(words))
        ]
        rows = self.con.execute(
            f"SELECT docid, ({chain_match_count_sql(pos, slop)})::INT AS f FROM toks"
        ).fetchall()
        return {int(d): int(f) for d, f in rows if f > 0}

    def close(self) -> None:
        self.con.close()
