"""Output checks of the benchmark. Expected answers are computed here from
the generator's tallies (or, for faces, by DuckDB from the same parquet),
with this file's own code, never with the program's.

Every check returns {operation: [failure message, ...]}; an operation
that is absent passed."""
import glob
import hashlib
import json
import math
import os
import re

# The reference's regexes and tables (openstreet_kolkata.py), restated.
LOWER = re.compile(r"^([a-z]|_)*$")
LOWER_COLON = re.compile(r"^([a-z]|_)*:([a-z]|_)*$")
PROBLEM = re.compile(r"""[=\+/&<>;'"\?%#$@\,\. \t\r\n]""")
STREET_TYPE = re.compile(r"(\S+)$")
EXPECTED_STREET_TYPES = {
    "Avenue", "Boulevard", "Connector", "Commons", "Court", "Drive",
    "Parkway", "Place", "Lane", "Road", "Row", "Sarani", "Square",
    "Street", "Trail"}
STREET_MAPPING = {
    "street": "Street", "st": "Street", "raod": "Road", "road": "Road",
    "rd": "Road", "avenue": "Avenue", "ave": "Avenue",
    "boulevard": "Boulevard", "blvd": "Boulevard", "drive": "Drive",
    "dr": "Drive", "circle": "Circle", "cir": "Circle", "court": "Court",
    "ct": "Court", "pally": "Pally", "place": "Place", "pl": "Place",
    "potty": "Potty", "square": "Square", "sqr": "Square", "lane": "Lane",
    "ln": "Lane"}
Q3_KINDS = ["cafe", "restaurant", "hospital", "school", "college",
            "university"]


def _fail(out, op, msg):
    out.setdefault(op, []).append(msg)


def _top(counts, k=10):
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


# ---- osm_load -------------------------------------------------------------

def read_docs(path):
    """Every ND-JSON line of a Spark JSON output directory."""
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines += [ln for ln in fh.read().split("\n") if ln]
    return lines


def digest(lines):
    """Order-independent digest: count and sum of per-line hashes."""
    total = 0
    for ln in lines:
        total += int.from_bytes(hashlib.sha1(ln.encode()).digest()[:8], "big")
    return len(lines), total % (1 << 64)


def non_canonical_street(street):
    """A cleaned street whose last token still maps to another spelling."""
    m = STREET_TYPE.search(street)
    if not m:
        return False
    tok = m.group(1)
    canon = STREET_MAPPING.get(tok.rstrip(".").lower())
    return canon is not None and canon != tok


def check_load(facts, docs):
    """`docs` maps op name → ND-JSON lines of its verification output."""
    out = {}
    want = facts["nodes"] + facts["ways"]
    for op, lines in docs.items():
        if len(lines) != want:
            _fail(out, op, f"{len(lines)} ND-JSON lines, expected {want}")
        types = {}
        for ln in lines:
            d = json.loads(ln)
            types[d.get("type")] = types.get(d.get("type"), 0) + 1
            street = (d.get("address") or {}).get("street")
            if street is not None and non_canonical_street(street):
                _fail(out, op, f"uncleaned street {street!r}")
                break
        if types != {"node": facts["nodes"], "way": facts["ways"]}:
            _fail(out, op, f"type counts {types}")
    digests = {op: digest(lines) for op, lines in docs.items()}
    if len(set(digests.values())) > 1:
        for op in docs:
            _fail(out, op, f"XML and PBF documents differ: {digests}")
    return out


# ---- osm_query ------------------------------------------------------------

def expected_query_answers(facts):
    """Each audit and query answer, as a canonical value."""
    buckets = {}
    for k, n in facts["key_counts"].items():
        b = ("problemchars" if PROBLEM.search(k) else
             "lower_colon" if LOWER_COLON.search(k) else
             "lower" if LOWER.search(k) else "other")
        buckets[b] = buckets.get(b, 0) + n
    streets = {}
    for v in facts["streets"]:
        m = STREET_TYPE.search(v)
        st = m.group(1) if m else "UNKNOWN"
        if st not in EXPECTED_STREET_TYPES:
            streets.setdefault(st, set()).add(v)
    postcodes = {}
    for k, v in facts["postcodes"]:
        m = re.search(r"\d+", v)
        pcode = m.group(0) if m else ""
        bucket = k + (str(len(pcode)) if pcode else "0")
        codes, valid = postcodes.get(bucket, (set(), False))
        postcodes[bucket] = (codes | {pcode or v}, valid or len(pcode) == 6)
    amen = facts["amenities"]
    return {
        "a1_tags": facts["census"],
        "a2_keys": buckets,
        "a4_users": facts["user_counts"],
        "a5_street_types": {k: sorted(v) for k, v in streets.items()},
        "a7_cities": sorted(facts["cities"]),
        "a10_postcodes": {b: [sorted(c), v] for b, (c, v) in postcodes.items()},
        "q1_users": len(facts["user_counts"]),
        "q2_types": {"node": facts["nodes"], "way": facts["ways"]},
        "q3_amenities": dict(
            {"n_shop": sum(facts["node_shops"].values())},
            **{f"n_{k}": amen.get(k, 0) for k in Q3_KINDS}),
        "q4_top_shops": [list(kv) for kv in _top(facts["node_shops"])],
        "q5_top_highways": [list(kv) for kv in _top(facts["way_highways"])],
        "way_node_join": [facts["ways_with_refs"], facts["total_refs"],
                          facts["total_refs"]],
    }


def _join_summary(rows):
    resolved = sum(r["n_resolved"] for r in rows
                   if r["n_resolved"] == r["n_refs"]
                   and r.get("centroid_lat") is not None)
    return [len(rows), sum(r["n_refs"] for r in rows), resolved]


# The same canonical values, from the rows the program returned.
OBSERVED = {
    "a1_tags": lambda rows: {r["tag"]: r["n"] for r in rows},
    "a2_keys": lambda rows: {r["bucket"]: r["n"] for r in rows},
    "a4_users": lambda rows: {r["user"]: r["n"] for r in rows},
    "a5_street_types": lambda rows: {r["street_type"]: r["names"]
                                     for r in rows},
    "a7_cities": lambda rows: sorted(r["city"] for r in rows),
    "a10_postcodes": lambda rows: {r["bucket"]: [r["codes"], r["has_valid"]]
                                   for r in rows},
    "q1_users": lambda rows: rows[0]["distinct_users"],
    "q2_types": lambda rows: {r["type"]: r["n"] for r in rows},
    "q3_amenities": lambda rows: rows[0],
    "q4_top_shops": lambda rows: [[r["shop"], r["n"]] for r in rows],
    "q5_top_highways": lambda rows: [[r["highway"], r["n"]] for r in rows],
    "way_node_join": _join_summary,
}


def check_query(facts, observed):
    """`observed` maps op name → the rows of its verification output."""
    out = {}
    for op, exp in expected_query_answers(facts).items():
        try:
            got = OBSERVED[op](observed[op])
        except (KeyError, IndexError, TypeError) as e:
            _fail(out, op, f"missing or malformed output ({e!r})")
            continue
        if got != exp:
            _fail(out, op, f"got {str(got)[:200]}, expected {str(exp)[:200]}")
    return out


# ---- faces ----------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(a, b):
    def missing(x):
        return x is None or (isinstance(x, float) and math.isnan(x))
    if missing(a) and missing(b):
        return True
    return a == b


def compare_frames(spark_df, oracle_df):
    """None when equal as sets of rows (columns by name, rows sorted), else
    the first difference."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"{len(spark_df)} rows vs {len(oracle_df)}"
    for c in spark_df.columns:
        ds, do = str(spark_df[c].dtype), str(oracle_df[c].dtype)
        if ds != do:
            try:
                kind = "float64" if "float" in ds or "float" in do else "int64"
                spark_df[c] = spark_df[c].astype(kind)
                oracle_df[c] = oracle_df[c].astype(kind)
            except (TypeError, ValueError):
                pass
    cols = sorted(spark_df.columns)
    s = spark_df[cols].sort_values(by=cols, ignore_index=True)
    o = oracle_df[cols].sort_values(by=cols, ignore_index=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(s[c], o[c])):
            if not _same(a, b):
                return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def check_faces(data_dir, out_dir, oracle_sql, names):
    import duckdb
    out = {}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name in names:
        if name not in oracle_sql:
            _fail(out, name, "no oracle SQL")
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want = con.execute(oracle_sql[name]).fetchdf()
        except Exception as e:  # missing output or oracle error
            _fail(out, name, str(e)[:200])
            continue
        err = compare_frames(got, want)
        if err:
            _fail(out, name, err)
    con.close()
    return out
