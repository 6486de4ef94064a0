"""Seeded input generators and the models the correctness gates use.

Every generator is a pure function of (seed, size): the same pair writes
byte-identical files. The program under test only ever sees the files; the
expected values come from the generator's own model, never from the engine.
"""
import json
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Inputs sizes, chosen so one warm pass of each workload takes a few seconds
# on a 4-core host (see README.md).
SIZES = {
    "immigration_etl": {"rows": 20_000, "parts": 14},
    "corpus_kernels": {"docs": 500, "vectors": 500, "lineitems": 10_000, "parts": 300,
                       "suppliers": 30, "files": 4},
    "tx_commits": {"seed_rows": 2_000, "rounds": 4, "append_rows": 100, "upsert_rows": 50},
}


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write_parts(table, out_dir, parts, rng):
    """Writes `table` as `parts` parquet files after a seeded row shuffle."""
    out_dir.mkdir(parents=True, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    table = table.take(pa.array(perm))
    cuts = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       out_dir / f"part-{i:05d}.parquet")


# --------------------------------------------------------------- immigration

VISAS = [("1", "Business"), ("2", "Pleasure"), ("3", "Student")]
MODES = [("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported")]
RACES = ["White", "Black or African-American", "Asian", "Hispanic or Latino",
         "American Indian and Alaska Native"]
COUNTRY_JUNK = re.compile(r"^No Country.*|INVALID.*|Collapsed.*")


def _letters(rng, n, k):
    """`n` distinct upper-case codes of length `k`."""
    out, seen = [], set()
    while len(out) < n:
        c = "".join(chr(65 + x) for x in rng.integers(0, 26, k))
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def immigration_model(seed, size):
    """Dimension labels, I94 rows and demographics as plain Python/numpy."""
    rng = _rng(seed, 1)
    # countries: numeric codes; a tail of junk names the cleaner renames 'NA'
    ccodes = [str(c) for c in rng.choice(np.arange(100, 800), 160, replace=False)]
    cnames = []
    for i, c in enumerate(ccodes):
        if i >= 150:
            cnames.append(["INVALID: STATELESS", "Collapsed (should not show)",
                           f"No Country Code ({c})"][i % 3])
        else:
            cnames.append("COUNTRY " + "".join(_letters(rng, 1, 6)))
    countries = list(zip(ccodes, cnames))
    # states: two-letter codes plus the '99' row the cleaner drops
    scodes = _letters(rng, 54, 2)
    states = [(s, "STATE " + s) for s in scodes] + [("99", "All Other Codes")]
    # ports: 'CITY, ST' names (some padded, some with two commas), a code
    # with a trailing space, and no-comma names the cleaner drops
    pcodes = _letters(rng, 40, 3)
    pcodes[7] = "CP "
    ports = []
    for i, p in enumerate(pcodes):
        city = "CITY " + "".join(_letters(rng, 1, 5))
        st = scodes[int(rng.integers(0, 54))]
        if i >= 34:
            name = [f"No PORT Code ({p.strip()})", f"Collapsed ({p.strip()})"][i % 2]
        elif i % 11 == 0:
            name = f"{city}, {st}" + " " * 13
        elif i % 13 == 0:
            name = f"{city}, {st}, SECTOR {i}"
        else:
            name = f"{city}, {st}"
        ports.append((p, name))
    clean_ports = {}
    for code, name in ports:
        parts = name.split(",")
        if len(parts) > 1:
            clean_ports[code] = (parts[0].strip(), parts[1].strip())

    n = size["rows"]
    zipf = lambda k, a: (lambda w: w / w.sum())(1.0 / np.arange(1, k + 1) ** a)
    res_pool = np.array([float(c) for c in ccodes] + [999.0])
    res = res_pool[rng.choice(len(res_pool), n, p=np.r_[zipf(160, 1.1) * 0.99, 0.01])]
    port_pool = np.array(pcodes + ["ZZZ"], dtype=object)
    port_w = np.r_[zipf(34, 1.0) * 0.97, np.full(6, 0.025 / 6), 0.005]
    port = port_pool[rng.choice(len(port_pool), n, p=port_w)]
    addr_pool = np.array(scodes + ["99", None], dtype=object)
    addr = addr_pool[rng.choice(56, n, p=np.r_[zipf(54, 0.8) * 0.95, 0.02, 0.03])]
    mode = rng.choice([1.0, 2.0, 3.0, 9.0, 4.0], n, p=[0.9, 0.03, 0.05, 0.015, 0.005])
    visa = rng.choice([1.0, 2.0, 3.0], n, p=[0.15, 0.78, 0.07])
    month = np.where(port == pcodes[1], 5.0, 4.0)  # one port also has May rows
    month[rng.random(n) < 0.5] = 4.0
    arr = 20545.0 + rng.integers(0, 30, n)
    arr[rng.random(n) < 0.005] = 0.0
    dep = arr + rng.integers(1, 60, n)
    dep_null = rng.random(n) < 0.05
    age = rng.integers(1, 90, n).astype(float)
    biryear = 2016.0 - age
    biryear[rng.random(n) < 0.005] = 1800.0
    gender = np.array(["M", "F", None], dtype=object)[rng.choice(3, n, p=[0.48, 0.48, 0.04])]
    airline = np.array(_letters(rng, 40, 2), dtype=object)[rng.integers(0, 40, n)]
    cicid = rng.permutation(n).astype(float) + 1.0
    rows = {
        "cicid": cicid, "i94yr": np.full(n, 2016.0), "i94mon": month,
        "i94cit": res_pool[rng.integers(0, 160, n)], "i94res": res,
        "i94port": port, "arrdate": arr, "i94mode": mode, "i94addr": addr,
        "depdate": [None if d else float(v) for d, v in zip(dep_null, dep)],
        "i94bir": age, "i94visa": visa, "count": np.full(n, 1.0),
        "dtadfile": ["201604%02d" % (1 + int(a) % 28) for a in arr],
        "visapost": np.array(_letters(rng, 30, 3) + [None], dtype=object)[rng.integers(0, 31, n)],
        "occup": [None] * n, "entdepa": ["G"] * n,
        "entdepd": np.array(["O", "D", None], dtype=object)[rng.integers(0, 3, n)],
        "entdepu": [None] * n,
        "matflag": np.array(["M", None], dtype=object)[rng.integers(0, 2, n)],
        "biryear": biryear,
        "dtaddto": ["%02d%02d2016" % (1 + int(a) % 12, 1 + int(a) % 28) for a in dep],
        "gender": gender, "insnum": [None] * n, "airline": airline,
        "admnum": rng.integers(10**9, 10**11, n).astype(float),
        "fltno": [str(x) for x in rng.integers(1, 9999, n)],
        "visatype": np.array(["B2", "B1", "WT", "F1", "E2"], dtype=object)[rng.integers(0, 5, n)],
    }
    dup = rng.choice(n, n // 100, replace=False)

    # demographics: race-level rows repeating their city's figures, for most
    # ports plus unmatched cities; some exact duplicates and null-bearing rows
    demo = []
    port_items = list(clean_ports.items())
    for i, (code, (city, st)) in enumerate(port_items):
        if i % 10 in (3, 7):
            continue
        pop = int(rng.integers(50_000, 3_000_000))
        male = pop // 2
        for race in RACES[: 1 + int(rng.integers(0, 5))]:
            demo.append([city.title(), "STATE " + st, round(float(rng.uniform(25, 45)), 1),
                         male, pop - male, pop, int(pop * 0.05), int(pop * 0.2),
                         round(float(rng.uniform(2, 4)), 2), st, race, int(rng.integers(100, 10**5))])
    for i in range(40):
        demo.append(["Nowhere " + str(i), "STATE ZZ", 30.0, 1000, 1000, 2000, 10, 20, 2.5,
                     "ZZ", RACES[0], 7])
    for i in rng.choice(len(demo), len(demo) // 30, replace=False):
        demo.append(list(demo[i]))
    for i in rng.choice(len(demo), len(demo) // 40, replace=False):
        demo[i][3] = None
    return {"countries": countries, "states": states, "ports": ports,
            "clean_ports": clean_ports, "rows": rows, "dup": dup, "demo": demo}


def _labels_text(m):
    """A SAS `proc format` file in the reference's shape and edge cases."""
    L = ["/* SAS labels for the I94 data */", "",
         "/* I94RES - Country of residence (block i94cntyl) */",
         "  value i94cntyl"]
    L += [f"   {c} =  '{n}'" for c, n in m["countries"]]
    L += ["", "  ;", "", "/* I94PORT - Port of entry */", "  value $i94prtl"]
    L += [f"\t'{c}'\t=\t'{n}'" for c, n in m["ports"]]
    L += [";", "", "/* I94MODE - Mode of transportation */", "  value i94model"]
    L += [f"\t{c} = '{n}'" for c, n in MODES[:-1]]
    L += [f"\t{MODES[-1][0]} = '{MODES[-1][1]}' ;", "",
          "/* I94ADDR - US state of arrival */", "  value i94addrl"]
    L += [f"\t'{c}'='{n}'" for c, n in m["states"]]
    L += [";", "", "/* I94VISA - Visa codes collapsed into three categories:"]
    L += [f"   {c} = {n}" for c, n in VISAS]
    L += ["*/", "", "run ;", ""]
    return "\n".join(L)


def write_immigration(out, seed, size):
    m = immigration_model(seed, size)
    cols = m["rows"]
    strings = {"i94port", "i94addr", "dtadfile", "visapost", "occup", "entdepa",
               "entdepd", "entdepu", "matflag", "dtaddto", "gender", "insnum",
               "airline", "fltno", "visatype"}
    arrays = {k: pa.array(list(v), type=pa.string() if k in strings else pa.float64())
              for k, v in cols.items()}
    t = pa.table(arrays)
    t = pa.concat_tables([t, t.take(pa.array(m["dup"]))])
    _write_parts(t, out / "i94", size["parts"], _rng(seed, 2))
    header = ("City;State;Median Age;Male Population;Female Population;Total Population;"
              "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count")
    lines = [header] + [";".join("" if v is None else str(v) for v in r) for r in m["demo"]]
    (out / "demographics.csv").write_text("\n".join(lines) + "\n")
    (out / "labels.SAS").write_text(_labels_text(m))


def immigration_expected(seed, size):
    """Fact count, Q1-Q3 inputs and the 12 quality outcomes from the model."""
    m = immigration_model(seed, size)
    r = m["rows"]
    country_codes = {float(c) for c, _ in m["countries"]}
    state_codes = {c for c, _ in m["states"] if c != "99"}
    port_codes = set(m["clean_ports"])
    ok = np.array([res in country_codes and p in port_codes and a in state_codes
                   and v in (1.0, 2.0, 3.0) and md in (1.0, 2.0, 3.0, 9.0)
                   for res, p, a, v, md in zip(r["i94res"], r["i94port"], r["i94addr"],
                                               r["i94visa"], r["i94mode"])])
    code_of = {float(c): c for c, _ in m["countries"]}

    def counts(mask, key):
        keys = [key[i] for i in np.flatnonzero(mask)]
        vals, cnt = np.unique(np.array(keys, dtype=object), return_counts=True)
        return {k: int(c) for k, c in zip(vals, cnt)}

    by_port = counts(ok & (r["i94mon"] == 4.0), r["i94port"])
    res_str = [code_of.get(x) for x in r["i94res"]]
    by_country = counts(ok, res_str)
    by_student = counts(ok & (r["i94visa"] == 3.0), res_str)

    # city demographics: unique, null-free race rows summed per (city, state)
    seen, pops = set(), {}
    for row in m["demo"]:
        t = tuple(row)
        if t in seen or any(v is None for v in row):
            continue
        seen.add(t)
        k = (row[0], row[9])
        pops[k] = pops.get(k, 0) + row[5]
    city_demo = {}
    for code, (city, st) in m["clean_ports"].items():
        for (c, s), p in pops.items():
            if c.lower() == city.lower() and s == st:
                city_demo[code] = (c, s, p)
    cname = {c: COUNTRY_JUNK.sub("NA", n) for c, n in m["countries"]}

    fact_n = int(ok.sum())
    dims = {"dim_city_demographics": len(city_demo), "dim_ports": len(m["clean_ports"]),
            "dim_country": len(m["countries"]), "dim_us_state": len(state_codes),
            "dim_visa_category": len(VISAS), "dim_travel_mode": len(MODES)}
    quality = {"non_empty_fact_immigrations": (True, f"fact_immigrations has {fact_n} rows")}
    for d, k in dims.items():
        quality[f"non_empty_{d}"] = (k > 0, f"{d} has {k} rows")
    fact_distinct = {
        "visa_category": ("visa_category_code", len(np.unique(r["i94visa"][ok])), len(VISAS)),
        "travel_mode": ("travel_mode_code", len(np.unique(r["i94mode"][ok])), len(MODES)),
        "port": ("port_code", len(set(r["i94port"][ok])), len(m["clean_ports"])),
        "country": ("origin_country_code", len(np.unique(r["i94res"][ok])), len(m["countries"])),
        "us_state": ("us_state_code", len(set(r["i94addr"][ok])), len(state_codes)),
    }
    for name, (col, f, d) in fact_distinct.items():
        quality[f"referential_{name}"] = (
            f == d, f"fact.{col} distinct={f} vs dim distinct={d}")
    return {"fact_rows": fact_n, "input_rows": len(r["cicid"]) + len(m["dup"]),
            "by_port": by_port, "by_country": by_country, "by_student": by_student,
            "city_demo": city_demo, "country_name": cname, "quality": quality}


# -------------------------------------------------------------------- corpus

VOCAB = ("a the data spark table row column key value query join group agg sort "
         "filter scan hash merge window stream batch line part order customer vector "
         "fast slow big small").split()


def write_corpus(out, seed, size):
    """The rows are the same for every seed; the seed permutes their order, and
    so which file each row lands in, so outputs must match across seeds and a
    layout-specific gain must hold on a fresh one. The number of files is
    fixed: it sets the scan's task count, and a seeded count of 2 to 6 files
    on 4 cores moved x_quality_linear between 1.4 and 2.9 s."""
    rng = _rng(0, 3)
    n = size["docs"]
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.10:  # near duplicate: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 1 + int(rng.integers(0, 3))):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([["en", "en", "zh", "es", "fr", "de"][j] for j in rng.integers(0, 6, n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = size["vectors"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = (centers[label] + rng.normal(0, 0.8, (nv, 64))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    nl = size["lineitems"]
    li = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, nl // 4, nl)), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, size["parts"] + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, size["suppliers"] + 1, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 50, nl).astype(float)),
    })
    split = _rng(seed, 4)
    for name, t in (("documents", docs), ("embeddings", emb), ("lineitem", li)):
        _write_parts(t, out / f"{name}.parquet", size["files"], split)


# ------------------------------------------------------------------------ tx

ORDER_SCHEMA = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                          ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                          ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string())])


def tx_model(seed, size):
    """Seed rows, per-round inputs, and the table each round should leave."""
    rng = _rng(seed, 5)
    n0 = size["seed_rows"]
    custs = n0 // 10

    def rows(keys):
        k = len(keys)
        return {"o_orderkey": list(keys),
                "o_custkey": [int(x) for x in rng.integers(1, custs + 1, k)],
                "o_orderstatus": [["O", "F", "P"][j] for j in rng.integers(0, 3, k)],
                "o_totalprice": [round(float(x), 2) for x in rng.uniform(100, 5e5, k)],
                "o_orderdate": [int(x) for x in rng.integers(8000, 10500, k)],
                "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"][j] for j in rng.integers(0, 5, k)]}

    def as_dict(cols):
        names = list(cols)
        return {r[0]: r for r in zip(*[cols[c] for c in names])}

    seed_cols = rows([int(k) for k in rng.permutation(n0) * 4 + 1])
    live = as_dict(seed_cols)
    next_key = 4 * n0 + 1
    rounds = []
    for r in range(size["rounds"]):
        app = rows(list(range(next_key, next_key + size["append_rows"])))
        next_key += size["append_rows"]
        live.update(as_dict(app))
        keys = sorted(live)
        pick = [keys[int(i)] for i in rng.choice(len(keys), size["upsert_rows"], replace=False)]
        ups = rows(pick)
        live.update(as_dict(ups))
        cust = int(sorted({v[1] for v in live.values()})[int(rng.integers(0, custs // 2))])
        live = {k: v for k, v in live.items() if v[1] != cust}
        rounds.append((r, app, ups, cust))
    return seed_cols, rounds, live


def write_tx(out, seed, size):
    seed_cols, rounds, _ = tx_model(seed, size)
    (out / "seed").mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(seed_cols, schema=ORDER_SCHEMA), out / "seed" / "part-00000.parquet")
    lines = []
    for r, app, ups, cust in rounds:
        for kind, cols in (("append", app), ("upsert", ups)):
            d = out / kind / f"{r:03d}"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table(cols, schema=ORDER_SCHEMA), d / "part-00000.parquet")
        lines.append(f"{r}\t{cust}")
    (out / "rounds.tsv").write_text("\n".join(lines) + "\n")


WRITERS = {"immigration_etl": write_immigration, "corpus_kernels": write_corpus,
           "tx_commits": write_tx}


def generate(workload, seed, root):
    """Writes the inputs of (workload, seed) under `root` once; returns the dir."""
    size = SIZES[workload]
    key = json.dumps(size, sort_keys=True)
    out = Path(root) / f"{workload}-seed{seed}"
    done = out / "_done"
    if done.exists() and done.read_text() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    WRITERS[workload](out, seed, size)
    done.write_text(key)
    return out
