"""Expected outputs, computed independently of the code under test.

Each iteration's triples reduce to a ``Digest``: the row count and an
order-independent hash (the sum, mod 2**64, of a 64-bit hash of every
row). Duplicate rows change both, so a digest match means the same
multiset of triples.

* ``flagship_expected`` replays ``flagship_triples`` in DuckDB with the
  repository's own oracle SQL over the same parquet inputs.
  ``FLAGSHIP_SF01`` pins its result over ``inputs.SF01_DIR``; a test
  recomputes it.
* ``pipeline_expected`` derives the triples of a fixture-corpus window
  analytically, the way ``fixtures.corpus.golden_triples`` does for the
  window ``[0, n)``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable
from typing import NamedTuple


class Digest(NamedTuple):
    rows: int
    hash: int


FLAGSHIP_SF01 = Digest(87_979, 7_069_422_705_115_582_869)


def digest(rows: Iterable[tuple[str, str, str]]) -> Digest:
    n = h = 0
    for s, p, o in rows:
        key = f"{s}\x1f{p}\x1f{o}".encode()
        h += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")
        n += 1
    return Digest(n, h % (1 << 64))


def spark_digest(df) -> Digest:
    return digest((r["subj"], r["pred"], r["obj"]) for r in df.collect())


def flagship_expected(sf_dir: str) -> Digest:
    import os

    import duckdb

    from web3_knowledge_graph_spark.driver_queries import all_oracles

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in ("documents", "events", "orders", "customer"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return digest(con.sql(all_oracles()["flagship_triples"]).fetchall())
    finally:
        con.close()


def corpus_golden(lo: int, hi: int) -> set[tuple[str, str, str]]:
    """Golden triples of the fixture pages ``[lo, hi)``: the
    corpus-independent rows of ``golden_triples`` plus the per-page rows
    and the scored author→handle rule over this window."""
    from web3_knowledge_graph_spark.fixtures import corpus as C

    rows = set(C.golden_triples(0).itertuples(index=False, name=None))
    authored: dict[str, int] = {}
    pair_refs: dict[tuple[str, str], int] = {}
    for i in range(lo, hi):
        m = C.page_manifest(i)
        if m["empty"]:
            continue
        page, w = f"Page:{m['url']}", f"Wallet:{m['author_wallet']}"
        rows.add((w, "AUTHOR", page))
        authored[w] = authored.get(w, 0) + 1
        for h in m["twitter_refs"]:
            rows.add((page, "REFERENCES", f"Twitter:{h}"))
            pair_refs[(w, h)] = pair_refs.get((w, h), 0) + 1
        if m["ens"]:
            rows.add((page, "MENTIONS_ENS", f"Ens:{m['ens']}"))
        if m["at_handle"]:
            rows.add((page, "BIO_MENTIONED", f"Twitter:{m['at_handle']}"))
        if m["dict_alias"]:
            k = int(m["dict_alias"].removeprefix("token"))
            rows.add((page, "MENTIONS_ENTITY", f"Entity:tok{k}"))
    for (w, h), c in pair_refs.items():
        if c > C.REF_COUNT_THRESHOLD and c / authored[w] > C.REF_PROPORTION:
            rows.add((w, "HAS_ACCOUNT", f"Twitter:{h}"))
    return rows


def pipeline_expected(lo: int, hi: int) -> Digest:
    return digest(corpus_golden(lo, hi))
