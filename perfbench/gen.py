"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (seed, size): each value is drawn from
DuckDB's `hash()` of the row index, a per-column salt and the seed, so the
same seed gives byte-identical rows whatever the thread count.

  tpch_like(out, seed, sf)      star schema + events/documents/embeddings with
                                the column domains of the contract test data
                                (query_mix)
  sketch_keys(out, seed, ...)   Zipf-skewed key table plus member and
                                non-member probe keys (sketch_bulk)
  stream_events(out, seed, ...) events with Zipf-skewed users (sketch_stream)
"""
import os

import duckdb

# u(i, salt): uniform in [0, 1) from the row index, a column salt and the seed
U = "((hash({i}, {salt}, {seed}) >> 11)::DOUBLE / 9007199254740992.0)"


def _seed(seed):
    """Any integer seed as a non-negative 32-bit SQL literal, so the key and
    user arithmetic below cannot overflow whatever --seed is given."""
    return seed % (1 << 32)


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _u(i, salt, seed):
    return U.format(i=i, salt=salt, seed=seed)


def _pick(values, i, salt, seed):
    """One of `values`, uniformly, as a SQL list index."""
    lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lst}[1 + floor({_u(i, salt, seed)} * {len(values)})::INT]"


def _zipf_rank(i, salt, seed, ranks):
    """Rank in [0, ranks) with P(r) ~ 1/(r+1): log-uniform over [1, ranks]."""
    return f"least(floor(exp({_u(i, salt, seed)} * ln({ranks} + 1)))::BIGINT - 1, {ranks - 1})"


def _write(con, sql, path, order, drop=""):
    cols = f"* EXCLUDE ({drop})" if drop else "*"
    con.execute(f"COPY (SELECT {cols} FROM ({sql}) ORDER BY {order}) TO '{path}' (FORMAT PARQUET)")


WORDS = ("fast spark line small customer group row the query stream key agg scan "
         "slow table part a merge window order column join vector value hash batch "
         "sort data big filter dup").split()


def tpch_like(out, seed, sf):
    """The ten contract tables at scale `sf` (lineitem = 6e6 * sf rows)."""
    os.makedirs(out, exist_ok=True)
    con = _con()
    seed = _seed(seed)
    n_supp, n_cust, n_part = int(1e4 * sf), int(1.5e5 * sf), int(2e5 * sf)
    n_ord, n_li, n_ev, n_users = int(1.5e6 * sf), int(6e6 * sf), int(1e6 * sf), int(1.5e4 * sf)
    n_docs, n_emb = max(500, int(5e4 * sf)), max(500, int(5e4 * sf))
    s = seed
    u = lambda salt: _u("i", salt, s)  # noqa: E731
    rng = lambda n: f"FROM range({n}) t(i)"  # noqa: E731
    tables = {
        "region": ("SELECT i::INT AS r_regionkey, "
                   "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
                   + rng(5), "r_regionkey"),
        "nation": ("SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
                   "(i % 5)::INT AS n_regionkey " + rng(25), "n_nationkey"),
        "supplier": (f"SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                     f"floor({u(1)} * 25)::INT AS s_nationkey, "
                     f"round(-999.99 + {u(2)} * 10999.98, 2) AS s_acctbal " + rng(n_supp), "s_suppkey"),
        "customer": (f"SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                     f"floor({u(3)} * 25)::INT AS c_nationkey, "
                     f"round(-999.99 + {u(4)} * 10999.98, 2) AS c_acctbal, "
                     f"{_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i', 5, s)} "
                     "AS c_mktsegment " + rng(n_cust), "c_custkey"),
        "part": (f"SELECT i::BIGINT AS p_partkey, "
                 f"{_pick(['blue', 'old', 'small', 'new', 'red', 'hot', 'large', 'cold'], 'i', 6, s)} || ' ' || "
                 f"{_pick(['widget', 'gizmo', 'bolt', 'plate', 'anvil', 'rod', 'ring', 'gear'], 'i', 7, s)} AS p_name, "
                 f"'Brand#' || (1 + floor({u(8)} * 25)::INT) AS p_brand, "
                 f"{_pick(['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'], 'i', 9, s)} AS p_type, "
                 f"(1 + floor({u(10)} * 50))::INT AS p_size, "
                 "round(900 + (i % 1000) * 0.1, 1)::DOUBLE AS p_retailprice " + rng(n_part), "p_partkey"),
        "orders": (f"SELECT i::BIGINT AS o_orderkey, floor({u(11)} * {n_cust})::BIGINT AS o_custkey, "
                   f"{_pick(['F', 'O', 'P'], 'i', 12, s)} AS o_orderstatus, "
                   f"round(1000 + {u(13)} * 499000, 2) AS o_totalprice, "
                   f"TIMESTAMP '1995-01-01' + to_days(floor({u(14)} * 2404)::INT) AS o_orderdate, "
                   f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i', 15, s)} "
                   "AS o_orderpriority " + rng(n_ord), "o_orderkey"),
        "lineitem": (f"SELECT floor({u(16)} * {n_ord})::BIGINT AS l_orderkey, "
                     f"floor({u(17)} * {n_part})::BIGINT AS l_partkey, "
                     f"floor({u(18)} * {n_supp})::BIGINT AS l_suppkey, "
                     f"(1 + floor({u(19)} * 7))::INT AS l_linenumber, "
                     f"(1 + floor({u(20)} * 50))::DOUBLE AS l_quantity, "
                     f"round(900 + {u(21)} * 104100, 2) AS l_extendedprice, "
                     f"(floor({u(22)} * 11) / 100)::DOUBLE AS l_discount, "
                     f"(floor({u(23)} * 9) / 100)::DOUBLE AS l_tax, "
                     f"{_pick(['A', 'N', 'R'], 'i', 24, s)} AS l_returnflag, "
                     f"{_pick(['F', 'O'], 'i', 25, s)} AS l_linestatus, "
                     f"TIMESTAMP '1995-01-02' + to_days(floor({u(26)} * 2498)::INT) AS l_shipdate, "
                     "i AS _i " + rng(n_li), "_i"),  # generation order, like the others
        "events": (_events_sql(n_ev, s, f"floor({u(30)} * {n_users})::BIGINT"), "event_id"),
        # documents: 16-75 words from the query/DB vocabulary; embeddings:
        # 64 N(0, 0.125) floats (Box-Muller) and a cluster label 0-9
        "documents": (f"SELECT d AS doc_id, string_agg(word, ' ' ORDER BY w) AS text, "
                      f"any_value(lang) AS lang, any_value(source) AS source FROM ("
                      f"SELECT i // 80 AS d, i % 80 AS w, {_pick(WORDS, 'i', 40, s)} AS word, "
                      f"{_pick(['en', 'en', 'en', 'es', 'de', 'fr', 'zh'], 'i // 80', 42, s)} AS lang, "
                      f"'src' || floor({_u('i // 80', 43, s)} * 20)::INT AS source, "
                      f"16 + floor({_u('i // 80', 41, s)} * 60)::INT AS n_words "
                      f"FROM range({n_docs * 80}) t(i)) WHERE w < n_words GROUP BY d", "doc_id"),
        "embeddings": (f"SELECT v AS vec_id, list(x ORDER BY d) AS embedding, "
                       f"floor({_u('v', 52, s)} * 10)::INT AS label FROM ("
                       f"SELECT i // 64 AS v, i % 64 AS d, "
                       f"((sqrt(-2 * ln(greatest({u(50)}, 1e-12))) * cos(2 * pi() * {u(51)})) * 0.125)::FLOAT AS x "
                       f"FROM range({n_emb * 64}) t(i)) GROUP BY v", "vec_id"),
    }
    for name, (sql, order) in tables.items():
        if name == "documents":
            sql = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sql})"
        _write(con, sql, f"{out}/{name}.parquet", order, "_i" if name == "lineitem" else "")
    con.close()


def _events_sql(n, seed, user_expr):
    """`n` events over 30 days in time order; `user_expr` draws user_id."""
    u = lambda salt: _u("i", salt, seed)  # noqa: E731
    return (f"SELECT i::BIGINT AS event_id, "
            f"TIMESTAMP '2024-01-01' + to_microseconds(floor((i + {u(31)}) * 2592000000000 / {n})::BIGINT) AS ts, "
            f"{user_expr} AS user_id, "
            f"{_pick(['click', 'view', 'purchase', 'signup', 'error'], 'i', 32, seed)} AS event_type, "
            f"greatest(0.01, round(-ln(1 - {u(33)}) * 50, 2)) AS value, "
            f"'{{\"k\": ' || floor({u(34)} * 100)::INT || '}}' AS props FROM range({n}) t(i)")


# Member keys are even and non-member keys odd, so the two sets are disjoint by
# construction; the odd multiplier makes rank -> key a bijection mod 2^40.
KEY_OF_RANK = "(((({r}) * 1099511627 + {seed}::BIGINT * 7919) % 1099511627776) * 2)"


def sketch_keys(out, seed, rows, ranks, non_members):
    """keys.parquet: `rows` Zipf(1)-skewed keys over `ranks` ranks (shard column
    for sharded builds); probe.parquet: every distinct member key plus
    `non_members` disjoint keys, with an `is_member` flag."""
    os.makedirs(out, exist_ok=True)
    con = _con()
    seed = _seed(seed)
    key = KEY_OF_RANK.format(r=_zipf_rank("i", 60, seed, ranks), seed=seed)
    _write(con, f"SELECT {key}::BIGINT AS key, (i % 16)::INT AS shard FROM range({rows}) t(i)",
           f"{out}/keys.parquet", "shard, key")
    _write(con, f"SELECT DISTINCT key, true AS is_member FROM '{out}/keys.parquet' "
           f"UNION ALL SELECT ({KEY_OF_RANK.format(r=f'{ranks} + i', seed=seed)} + 1)::BIGINT, false "
           f"FROM range({non_members}) t(i)", f"{out}/probe.parquet", "key")
    distinct = con.execute(f"SELECT count(*) FROM '{out}/probe.parquet' WHERE is_member").fetchone()[0]
    con.close()
    return distinct


def stream_events(out, seed, rows, users):
    """events.parquet with Zipf(1)-skewed user ids over `users` users."""
    os.makedirs(out, exist_ok=True)
    con = _con()
    seed = _seed(seed)
    user = f"({_zipf_rank('i', 35, seed, users)} * 7 + {seed}) % {users * 7}"
    _write(con, _events_sql(rows, seed, user), f"{out}/events.parquet", "event_id")
    con.close()
