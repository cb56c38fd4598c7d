"""Correctness checks, run after the timed region.

Registry queries: each output is compared with DuckDB running the query's
oracle SQL on the same generated tables, by the rules of tools/check.py
(same column names, same types, same row count, equal rows in order).
A query without an oracle (a rows-only demo face) must return rows.

Stores: the final dedup corpus and CDC snapshot are compared with a
recomputation from the generated batches; the maintained ANN index must
answer a fixed query set exactly like an inline IVF-PQ index built over
everything ingested.

Each function returns (checks made, [(operation, problem), ...]).
"""
import glob
import os

import duckdb

from gen import TABLES


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _dump(dump_dir, name):
    files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
    return files[0] if files else None


def compare(con, got_file, sql):
    """None when the output equals the oracle's result, else the problem."""
    got_rel = con.sql(f"SELECT * FROM read_parquet('{got_file}')")
    exp_rel = con.sql(sql)
    gcols, ecols = sorted(got_rel.columns), sorted(exp_rel.columns)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    gtypes = dict(zip(got_rel.columns, map(str, got_rel.types)))
    etypes = dict(zip(exp_rel.columns, map(str, exp_rel.types)))
    proj = ", ".join(f'"{c}"' for c in gcols)
    got, exp = got_rel.project(proj).fetchall(), exp_rel.project(proj).fetchall()
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if g != e:
            return f"row {i}: {g} != {e}"
    bad = {c: (gtypes[c], etypes[c]) for c in gcols if gtypes[c] != etypes[c]}
    return f"types {bad}" if bad else None


def check_queries(data_dir, dump_dir, names, oracles, already_failed):
    con = _connect(data_dir)
    problems = []
    for n in names:
        if n in already_failed:
            continue
        f = _dump(dump_dir, n)
        try:
            if f is None:
                why = "no output written"
            elif n in oracles:
                why = compare(con, f, oracles[n])
            else:
                rows = con.execute(f"SELECT count(*) FROM read_parquet('{f}')").fetchone()[0]
                why = None if rows > 0 else "rows-only query returned no rows"
        except Exception as ex:  # an oracle or read error is a failed check, named
            why = f"{type(ex).__name__}: {str(ex)[:200]}"
        if why:
            problems.append((n, why))
    return len(names), problems


def expected_dedup(con, data_dir, rounds):
    """Document ids the dedup store must hold after `rounds` batches: the
    corpus, plus each batch document whose text is new (not in the store
    and not sent under a lower id in the same batch)."""
    corpus = con.execute(f"SELECT doc_id, text FROM '{data_dir}/documents.parquet'").fetchall()
    ids = {d for d, _ in corpus}
    seen = {t for _, t in corpus}
    batches = con.execute(f"SELECT batch, doc_id, text FROM '{data_dir}/dedup_batches.parquet' "
                          f"WHERE batch < {rounds} ORDER BY batch, doc_id").fetchall()
    for b in range(rounds):
        kept = set()
        for _, d, t in (r for r in batches if r[0] == b):
            if t not in seen and t not in kept:
                kept.add(t)
                ids.add(d)
        seen |= kept
    return ids


def expected_cdc(con, data_dir, rounds):
    """The CDC snapshot after `rounds` batches: the orders, with every
    change applied in version order ('D' removes the key)."""
    state = {k: (p, s) for k, p, s in con.execute(
        f"SELECT o_orderkey, o_totalprice, o_orderstatus FROM '{data_dir}/orders.parquet'").fetchall()}
    for k, p, s, op in con.execute(
            f"SELECT o_orderkey, o_totalprice, o_orderstatus, op FROM '{data_dir}/cdc_batches.parquet' "
            f"WHERE batch < {rounds} ORDER BY version").fetchall():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (p, s)
    return sorted((k, p, s) for k, (p, s) in state.items())


def check_stores(data_dir, dump_dir, rounds):
    con = duckdb.connect()
    problems = []

    def rows(name, cols):
        f = _dump(dump_dir, name)
        if f is None:
            problems.append((name, "no final state written"))
            return None
        return con.execute(f"SELECT {cols} FROM '{f}' ORDER BY ALL").fetchall()

    got = rows("dedup_corpus", "doc_id")
    if got is not None:
        exp = expected_dedup(con, data_dir, rounds)
        got = {r[0] for r in got}
        if got != exp:
            problems.append(("dedup_store", f"{len(got - exp)} unexpected ids, "
                                            f"{len(exp - got)} missing ids"))
    got = rows("cdc", "o_orderkey, o_totalprice, o_orderstatus")
    if got is not None:
        exp = expected_cdc(con, data_dir, rounds)
        if got != exp:
            diff = next((g, e) for g, e in zip(got + [None] * len(exp), exp + [None] * len(got))
                        if g != e)
            problems.append(("cdc_store", f"{len(got)} rows, expected {len(exp)}; first "
                                          f"difference {diff}"))
    store, inline = rows("ann_store", "qid, vec_id, rnk"), rows("ann_inline", "qid, vec_id, rnk")
    if store is not None and inline is not None and store != inline:
        problems.append(("ann_store", "maintained index answers differ from the inline index"))
    return 3, problems
