"""Output checks for perfbench, run after the timed region.

Each check replays a workload's result outside Spark and returns a list
of failure strings (empty when the output is right) plus the number of
operations it checked.

- curate_10x: the c1 curation pipeline replayed in DuckDB after the
  oracle SQL of SparkEntry.oracleSql("c1_curation_pipeline"), and the ANN
  near-duplicate pairs and their connected components recomputed exactly
  with numpy.
- dkv_facade: the DKV chain replayed in DuckDB, compared with the fold
  checksum of every timed pass.
"""
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

STRAT_RATES = [("en", 0.05), ("de", 0.25), ("es", 0.5), ("fr", 0.75), ("zh", 1.0)]
SAMPLE_SEED = 42
PACK_CAPACITY = 128
M64 = 1 << 64
BUCKETS = 1_000_000  # graft.operators.Sampling.Buckets
ANN_THRESHOLD = 0.9


def _mulmod(a, b):
    bu = str(b % M64)
    return (f"((({a}) % 4294967296) * {bu} + (((({a}) // 4294967296) * {bu}) % 4294967296)"
            f" * 4294967296) % {M64}")


def _splitmix_cte(src, id_expr, seed):
    # CurationQueries.splitmixCte: the splitmix64 finalizer chain of
    # graft.functions.HashBucket in unsigned mod-2^64 HUGEINT arithmetic
    a = (seed + 0x9E3779B97F4A7C15) % M64
    return f"""h0 AS (SELECT *, (({id_expr})::HUGEINT + {a}) % {M64} AS z0 FROM {src}),
        h1 AS (SELECT *, {_mulmod("xor(z0, z0 >> 30)", 0xBF58476D1CE4E5B9)} AS z1 FROM h0),
        h2 AS (SELECT *, {_mulmod("xor(z1, z1 >> 27)", 0x94D049BB133111EB)} AS z2 FROM h1),
        h AS (SELECT *, xor(z2, z2 >> 31) % {BUCKETS} AS bucket FROM h2)"""


def curate_steps(docs):
    """The c1 oracle SQL as a sequence of temp tables (one statement per
    CTE of the oracle, so no stage is re-evaluated per reference)."""
    rates = " ".join(f"WHEN lang = '{lang}' THEN {round(r * BUCKETS)}" for lang, r in STRAT_RATES)
    return [
        ("documents", f"SELECT * FROM read_parquet('{docs}')"),
        ("sp", "SELECT doc_id, string_split(text, ' ') AS w FROM documents"),
        ("sh", """SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                  FROM sp WHERE len(w) >= 3"""),
        # prefix filtering: under one global shingle order (rarest first),
        # two sets with Jaccard >= t share a shingle within their first
        # n - ceil(t*n) + 1 shingles and have sizes within a factor t, so
        # these candidates hold every pair the oracle's all-pairs join keeps
        ("inv", "SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh"),
        ("gdf", "SELECT g, count(*) AS df FROM inv GROUP BY g"),
        ("pref", """SELECT doc_id, g, n FROM (
                      SELECT i.doc_id, i.g, i.n, row_number() OVER (
                        PARTITION BY i.doc_id ORDER BY d.df, i.g) AS r
                      FROM inv i JOIN gdf d USING (g))
                    WHERE r <= n - ceil(0.8 * n - 1e-9) + 1"""),
        ("cand", """SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                    FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
                    WHERE b.n >= 0.8 * a.n - 1e-9 AND a.n >= 0.8 * b.n - 1e-9"""),
        ("pr", """SELECT c.da, c.db FROM cand c
                  JOIN sh a ON a.doc_id = c.da JOIN sh b ON b.doc_id = c.db
                  WHERE len(list_intersect(a.s, b.s))::DOUBLE
                        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8"""),
        ("eg", "SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr"),
        ("reach", """WITH RECURSIVE reach(a, b) AS (
                       SELECT DISTINCT a, a FROM eg
                       UNION
                       SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a)
                     SELECT * FROM reach"""),
        ("kept", """SELECT * FROM documents WHERE doc_id NOT IN (
                      SELECT a FROM reach GROUP BY a HAVING a != min(b))"""),
        ("ktok", """SELECT doc_id, u.i AS pos, ts[u.i] AS line
                    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM kept),
                         UNNEST(range(1, len(ts) + 1)) AS u(i)
                    WHERE ts[u.i] <> ''"""),
        ("kdrop", """SELECT line FROM (
                       SELECT line, count(DISTINCT doc_id) AS dfd FROM ktok GROUP BY line),
                       (SELECT count(*) AS n FROM kept)
                     WHERE dfd > n * 0.5"""),
        ("reb", """SELECT doc_id, count(*) AS n_kept FROM ktok
                   WHERE line NOT IN (SELECT line FROM kdrop) GROUP BY doc_id"""),
        ("flt", """SELECT k.doc_id, k.source, k.lang, r.n_kept
                   FROM kept k JOIN reb r USING (doc_id)"""),
        ("samp", f"""WITH {_splitmix_cte("flt", "doc_id", SAMPLE_SEED)}
                     SELECT doc_id, source, lang, n_kept FROM h
                     WHERE bucket < CASE {rates} ELSE 0 END"""),
        ("result", f"""SELECT doc_id, source, lang, n_kept,
                         (start // {PACK_CAPACITY})::BIGINT AS bin,
                         (start % {PACK_CAPACITY})::BIGINT AS "offset"
                       FROM (SELECT doc_id, source, lang, n_kept,
                               COALESCE(sum(n_kept) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
                             FROM samp)"""),
    ]


def curate_replay(con, docs):
    for name, sql in curate_steps(docs):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return con.execute("SELECT * FROM result ORDER BY doc_id").fetchall()


def _rows(table, cols):
    d = table.to_pydict()
    return sorted(zip(*(d[c] for c in cols)))


def check_curate(inputs, work):
    fails = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    expect = curate_replay(con, os.path.join(inputs, "documents.parquet"))
    cols = ["doc_id", "source", "lang", "n_kept", "bin", "offset"]
    got = _rows(pq.read_table(os.path.join(work, "check", "curate.parquet")), cols)
    if sorted(tuple(r) for r in expect) != got:
        fails.append(f"curate_10x/curate: WrongAnswer: {len(got)} rows differ from the "
                     f"DuckDB replay ({len(expect)} rows)")

    emb = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pydict()
    ids = np.array(emb["vec_id"])
    v = np.array(emb["embedding"], dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    want = set()
    for lo in range(0, len(ids), 2000):
        sims = v[lo:lo + 2000] @ v.T
        for i, j in zip(*np.nonzero(sims >= ANN_THRESHOLD)):
            a, b = ids[lo + i], ids[j]
            if a < b:
                want.add((int(a), int(b)))
    got_pairs = set(_rows(pq.read_table(os.path.join(work, "check", "pairs.parquet")),
                          ["id_a", "id_b"]))
    if got_pairs != want:
        fails.append(f"curate_10x/ann_groups: WrongAnswer: {len(got_pairs)} ANN pairs, "
                     f"{len(want)} exact pairs at cosine >= {ANN_THRESHOLD}")
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for a, b in want:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    comps = sorted((x, find(x)) for x in parent)
    got_comps = _rows(pq.read_table(os.path.join(work, "check", "components.parquet")),
                      ["id", "comp"])
    if got_comps != comps:
        fails.append("curate_10x/ann_groups: WrongAnswer: connected components differ "
                     "from the exact closure")
    return fails, 2


def check_dkv(inputs, work):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n, total = con.execute(f"""
      WITH m AS (SELECT _1 AS k, _2 % 1000 AS v FROM read_parquet('{inputs}/pairs.parquet')),
      s AS (SELECT k, sum(v)::HUGEINT AS s, count(*)::HUGEINT * 1000000 + max(v) AS g
            FROM m GROUP BY k),
      j AS (SELECT s.k, (s.s * 7 + s.g) * d._2 AS x
            FROM s JOIN read_parquet('{inputs}/dim.parquet') d ON s.k = d._1)
      SELECT count(*), sum(k + x)::HUGEINT FROM j""").fetchone()
    with open(os.path.join(work, "check", "dkv_sums.txt")) as f:
        lines = [ln.split() for ln in f.read().splitlines() if ln.strip()]
    fails = [f"dkv_facade/fold: WrongAnswer: pass checksum ({a}, {b}) != replay ({n}, {total})"
             for a, b in lines if (int(a), int(b)) != (int(n), int(total))]
    return fails, len(lines)


CHECKS = {"curate_10x": check_curate, "dkv_facade": check_dkv}


def run_checks(workload, inputs, work):
    """Returns (failures, operations checked)."""
    fn = CHECKS.get(workload)
    if fn is None:
        return [], 0
    try:
        return fn(inputs, work)
    except Exception as e:  # a broken check is a failed operation, never a pass
        return [f"{workload}/check: {type(e).__name__}: {str(e).splitlines()[0][:300]}"], 1
