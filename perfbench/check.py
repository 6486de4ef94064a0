"""Correctness gates. Each returns a list of failure strings (empty = pass).

Expected values come from the generators' models (gen.py) or from DuckDB run
over the generated files; nothing the engine computed is used as expected.
"""
import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen


def _parquet_glob(d):
    return str(Path(d) / "**" / "*.parquet")


def _topk(name, rows, counts, extra, cols):
    """Checks a top-10-then-join result against model counts, allowing any
    choice among keys tied at the 10th count. `extra(key)` gives the joined
    columns for a key, or None when the join drops it."""
    fails = []
    ranked = sorted(counts.values(), reverse=True)
    cut = ranked[9] if len(ranked) >= 10 else 0
    must = {k for k, c in counts.items() if c > cut and extra(k) is not None}
    got = set()
    last = math.inf
    for r in rows:
        key, cnt = r[cols[0]], int(r[cols[1]])
        want = extra(key)
        if counts.get(key) != cnt or cnt < cut or want is None:
            fails.append(f"{name}: unexpected row {r}")
            continue
        if [r[i] for i in cols[2:]] != list(want):
            fails.append(f"{name}: row {r} expected joined columns {want}")
        if cnt > last:
            fails.append(f"{name}: not ordered by count at {r}")
        last = cnt
        got.add(key)
    if not must <= got:
        fails.append(f"{name}: missing top keys {sorted(must - got)[:5]}")
    if len(rows) > 10:
        fails.append(f"{name}: {len(rows)} rows, at most 10 expected")
    return fails


def check_etl(res, inputs, work, seed):
    exp = gen.immigration_expected(seed, gen.SIZES["immigration_etl"])
    fails = []
    out = Path(work) / "etl_out"
    con = duckdb.connect()
    fact = con.sql(f"SELECT count(*) FROM read_parquet('{_parquet_glob(out / 'fact_immigrations.parquet')}')").fetchone()[0]
    if fact != exp["fact_rows"]:
        fails.append(f"fact rows {fact}, expected {exp['fact_rows']}")
    got_q = {q["name"]: (q["passed"], q["detail"]) for q in res["quality"]}
    if got_q != exp["quality"]:
        for k in sorted(set(got_q) | set(exp["quality"])):
            if got_q.get(k) != exp["quality"].get(k):
                fails.append(f"quality {k}: got {got_q.get(k)}, expected {exp['quality'].get(k)}")
    cd = exp["city_demo"]
    fails += _topk("q1", res["q1"], exp["by_port"],
                   lambda k: None if k not in cd else (cd[k][0], cd[k][1], str(cd[k][2])),
                   [0, 1, 2, 3, 4])
    cn = exp["country_name"]
    for q, counts in (("q2", exp["by_country"]), ("q3", exp["by_student"])):
        fails += _topk(q, res[q], counts,
                       lambda k: None if k not in cn else (k, cn[k]), [0, 1, 2, 3])
    return fails, exp


def _frames_equal(mine, orc):
    mine = mine.reindex(sorted(mine.columns), axis=1)
    orc = orc.reindex(sorted(orc.columns), axis=1)
    if list(mine.columns) != list(orc.columns):
        return f"columns {list(mine.columns)} vs {list(orc.columns)}"
    if len(mine) != len(orc):
        return f"rows {len(mine)} vs {len(orc)}"
    cols = list(mine.columns)
    mine = mine.sort_values(by=cols).reset_index(drop=True)
    orc = orc.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        a, b = mine[c], orc[c]
        if str(a.dtype) != str(b.dtype):
            return f"dtype[{c}] {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            eq = (a.isna() & b.isna()) | ((a - b).abs() < 1e-9)
        else:
            eq = (a.isna() & b.isna()) | (a == b)
        if not eq.all():
            i = (~eq).idxmax()
            return f"value[{c}] row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def _half_up(x, places):
    """Spark's round() on a double: HALF_UP on the double's shortest decimal
    string (Scala BigDecimal(d) goes through Double.toString)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))


def quality_linear_reference(inputs):
    """x_quality_linear computed in Python: the hashed-linear model of
    TrainingData.scala, folded in token order, rounded as Spark rounds.

    The query's own oracle SQL rounds the exact binary value instead, so it
    disagrees with Spark on margins that print as an exact 7th-decimal tie
    (e.g. -1.43 / 32 = -0.0446875); this reference is used in its place."""
    weights = [_half_up(((b * 37 + 11) % 201 - 100) / 100.0, 2) for b in range(4096)]
    docs = pq.read_table(f"{inputs}/documents.parquet").select(["doc_id", "text"]).to_pylist()
    rows = []
    for d in docs:
        toks = d["text"].lower().split()
        if not toks:
            continue
        raw = 0.0
        for t in toks:
            raw += weights[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 4096]
        margin = _half_up(raw / len(toks), 6)
        rows.append((d["doc_id"], len(toks), margin,
                     _half_up(1.0 / (1.0 + math.exp(-margin)), 6), margin > 0))
    return pd.DataFrame(rows, columns=["doc_id", "n_tokens", "margin", "score", "keep"])


def check_corpus(res, inputs, work, seed):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')")
    fails = []
    for name, sql in res["oracle"].items():
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{work}/corpus_out/{name}/*.parquet')").df()
            want = (quality_linear_reference(inputs) if name == "x_quality_linear"
                    else con.sql(sql).df())
            bad = _frames_equal(mine, want)
        except Exception as e:  # a query whose output cannot be read fails its gate
            bad = f"{type(e).__name__}: {str(e)[:200]}"
        if bad:
            fails.append(f"{name}: {bad}")
    return fails, None


def check_tx(res, inputs, work, seed):
    _, rounds, live = gen.tx_model(seed, gen.SIZES["tx_commits"])
    fails = []
    con = duckdb.connect()
    got = con.sql(f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                  f"CAST(o_orderdate AS DATE) - DATE '1970-01-01', o_orderpriority "
                  f"FROM read_parquet('{work}/tx_final/*.parquet') ORDER BY 1").fetchall()
    want = [tuple(live[k]) for k in sorted(live)]
    if got != want:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        fails.append(f"final read: {len(got)} rows vs model {len(want)}; first difference at row {diff}")
    seed_v = int(res["seed_version"])
    for i, p in enumerate(res["passes"]):
        vs = [o["version"] for o in p["ops"] if o["version"] >= 0]
        if vs != list(range(seed_v + 1, seed_v + 1 + len(vs))):
            fails.append(f"pass {i}: commit versions not gap-free: {vs[:8]}...")
        if len(vs) != 3 * len(rounds):
            fails.append(f"pass {i}: {len(vs)} commits, expected {3 * len(rounds)}")
    return fails, None


CHECKS = {"immigration_etl": check_etl, "corpus_kernels": check_corpus, "tx_commits": check_tx}
