"""Seeded input generators for the benchmark, plus the ETL output oracle.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files. The program under test only ever sees the
files; the expected ETL output is computed here from the generated
records, independently of the program.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- shopping logs

LOG_ROWS = 100_000
LOG_FILES = 16
DIM_ROWS = 150_000

# The four reference site families, two ids each (the JSON config carries
# them as ints, as configs/etl_config.json does).
FAMILY_IDS = {
    "default": [154992, 154993],
    "type1": [-48, -49],
    "type2": [155138, 155139],
    "type3": [4550, 4551],
}
UNCONFIGURED_IDS = [777, 31337]
CONFIGURED = [s for ids in FAMILY_IDS.values() for s in ids]
FAMILY_OF = {str(s): f for f, ids in FAMILY_IDS.items() for s in ids}

LOGTYPE_MIX = [("view", 55), ("cart", 15), ("purchase", 10), ("login", 20)]  # percent

# (code key, name key) per family and logtype, as in graft.etl.SiteFamilies.
KEYS = {
    "default": {"cart": ("productCode", "productName"), "purchase": ("productCode", "productName"),
                "view": ("rb:itemId", "rb:itemName")},
    "type1": {"cart": ("goodsCode", "name"), "purchase": ("goodsCode", "goodsName"),
              "view": ("tas:productCode", "og:title")},
    "type2": {"cart": ("productCode", "productName"), "purchase": ("productCode", "productName"),
              "view": ("og:url", "og:title")},
    "type3": {"cart": ("productCode", "productName"), "purchase": ("productCode", "productName"),
              "view": ("tas:productCode", "Title")},
}

WORDS = ["red", "blue", "cotton", "linen", "shirt", "dress", "cap", "bag", "shoe",
         "wool", "slim", "classic", "summer", "winter", "kids", "sport"]
CATS = ["fashion", "beauty", "home", "food", "digital", "sports", "kids", "books"]

OUTPUT_COLUMNS = [
    "USER_ID", "SHOPPING_ID", "TRANSACTION_DATE", "TRANSACTION_TIME",
    "LOG_TYPE", "INTG_ID", "ITEM_CODE", "ITEM_NAME",
    "CAT1", "CAT2", "CAT3", "CAT4",
    "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4"]
def etl_config(load_path, save_path, derby_url):
    """The reference JSON config shape (configs/etl_config.json)."""
    jdbc = {"url": derby_url, "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "user": "", "password": ""}
    return {
        "transform": FAMILY_IDS,
        "mysql": {"insert": False,
                  "load": dict(jdbc, dbtable="EP_INFO_VIEW"),
                  "save": dict(jdbc, dbtable="ETL_RESULT")},
        "file": {"write": True, "load": {"path": load_path}, "save": {"path": save_path}},
    }


def _names():
    """Every product name the generator uses: two words, a third of them
    with a comma inside and a third with embedded quotes."""
    out = []
    for a in WORDS:
        for b in WORDS:
            out += [f"{a} {b}", f"{a}, {b}", f'{a} "{b}"']
    return out


NAMES = _names()


def _sql_list(values):
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def gen_logs(seed, out_dir):
    """Write LOG_ROWS shopping-log rows in LOG_FILES parquet files and the
    category dim; return the manifest with the expected ETL output.

    DuckDB generates the rows single-threaded from hash(row, seed, field),
    so one seed always writes the same bytes. The expected output is
    derived from the generated fields (site, logtype, product codes), not
    by parsing the JSON the program reads."""
    import duckdb
    os.makedirs(os.path.join(out_dir, "logs"), exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    per_site = DIM_ROWS // len(CONFIGURED)
    n_unique = int(LOG_ROWS / 1.05)

    def r(field, mod, col="i"):
        return f"(hash({col}, {seed}, {field}) % {mod})::BIGINT"

    sites = _sql_list([str(s) for s in CONFIGURED])
    families = _sql_list([FAMILY_OF[str(s)] for s in CONFIGURED])
    cats = _sql_list(CATS)
    names = _sql_list(NAMES)
    # Category dim: every configured site gets its own product codes.
    con.execute(f"""
      CREATE TABLE dim AS
      SELECT {sites}[s + 1] AS SHOPPING_ID,
             'P' || s || lpad(k::VARCHAR, 6, '0') AS ITEM_CODE,
             'I' || s || lpad(k::VARCHAR, 6, '0') AS INTG_ID,
             {names}[{r(1, len(NAMES), 'k * 8 + s')} + 1] AS ITEM_NAME,
             {cats}[c1 + 1] AS CAT1,
             {cats}[c1 + 1] || '/' || {cats}[c2 + 1] AS CAT2,
             {cats}[c2 + 1] || '/' || {cats}[c3 + 1] AS CAT3,
             {cats}[c3 + 1] || '/' || {cats}[c4 + 1] AS CAT4,
             'G' || c1 AS INTG_CAT1, 'G' || c1 || c2 AS INTG_CAT2,
             'G' || c2 || c3 AS INTG_CAT3, 'G' || c3 || c4 AS INTG_CAT4
      FROM (SELECT s, k,
                   {r(2, len(CATS), 'k * 8 + s')} AS c1, {r(3, len(CATS), 'k * 8 + s')} AS c2,
                   {r(4, len(CATS), 'k * 8 + s')} AS c3, {r(5, len(CATS), 'k * 8 + s')} AS c4
            FROM range({len(CONFIGURED)}) a(s), range({per_site}) b(k))
      ORDER BY s, k""")
    con.execute(f"COPY dim TO '{out_dir}/dim.csv' (FORMAT CSV, HEADER false, QUOTE '\"', ESCAPE '\"', FORCE_QUOTE *)")

    # One row per distinct log event.
    cuts = np.cumsum([p for _, p in LOGTYPE_MIX])
    logtype = "CASE " + " ".join(f"WHEN lt < {c} THEN '{t}'" for (t, _), c in zip(LOGTYPE_MIX, cuts)) + " END"
    con.execute(f"""
      CREATE TABLE ev AS
      SELECT i, unconf, site_idx,
             CASE WHEN unconf THEN {_sql_list([str(s) for s in UNCONFIGURED_IDS])}[{r(12, 2)} + 1]
                  ELSE {sites}[site_idx + 1] END AS site,
             CASE WHEN unconf THEN 'default' ELSE {families}[site_idx + 1] END AS family,
             {logtype} AS logtype,
             CASE WHEN {r(13, 100)} < 10 THEN NULL ELSE 'u' || {r(14, 20000)} END AS userid,
             'm' || {r(15, 30000)} AS maid,
             'c' || {r(14, 20000)} % 5000 AS custid,
             TIMESTAMP '2019-06-01' + to_seconds({r(16, 30 * 86400)}::BIGINT) AS ts,
             CASE WHEN {r(17, 2)} = 0 THEN '.' || lpad({r(18, 1000)}::VARCHAR, 3, '0') ELSE '' END AS millis
      FROM (SELECT i, {r(10, 100)} < 10 AS unconf, {r(11, len(CONFIGURED))} AS site_idx,
                   {r(19, 100)} AS lt
            FROM range({n_unique}) t(i))""")
    # Products of each event: 1-4 for cart/purchase, one for view.
    con.execute(f"""
      CREATE TABLE prod AS
      SELECT i, p,
             CASE WHEN {r('30 + p', 100)} < 5 THEN 'X' ELSE 'P' END || site_idx
               || lpad({r('40 + p', per_site)}::VARCHAR, 6, '0') AS code,
             {names}[{r('50 + p', len(NAMES))} + 1] AS name
      FROM ev, range(4) q(p)
      WHERE logtype <> 'login'
        AND p < CASE WHEN logtype IN ('cart', 'purchase') THEN {r(20, 4)} + 1 ELSE 1 END""")
    keys = "CASE " + " ".join(
        f"WHEN family = '{fam}' AND logtype = '{lt}' THEN ['{ck}', '{nk}']"
        for fam, by_lt in KEYS.items() for lt, (ck, nk) in by_lt.items()) + " END"
    con.execute(f"""
      CREATE TABLE logs AS
      WITH pj AS (
        SELECT i,
               string_agg('"' || code || '"', ',' ORDER BY p) AS codes,
               string_agg('"' || replace(name, '"', '\\"') || '"', ',' ORDER BY p) AS names,
               first(code ORDER BY p) AS code0
        FROM prod GROUP BY i)
      SELECT ev.i, custid,
             CASE WHEN logtype = 'login' THEN '{{"page":"login"}}'
                  WHEN logtype = 'view' THEN
                    '{{"' || k[1] || '":"' ||
                    CASE WHEN family = 'type2'
                         THEN 'https://shop.example.com/goods/' || {cats}[{r(21, len(CATS), 'ev.i')} + 1] || '/'
                         ELSE '' END || code0 || '","' || k[2] || '":' || names || '}}'
                  ELSE '{{"' || k[1] || '":[' || codes || '],"' || k[2] || '":[' || names || ']}}'
             END AS custom,
             {{'siteseq': site}} AS info, logtype, maid,
             strftime(ts, '%Y-%m-%dT%H:%M:%S') || millis || 'Z' AS timestamp, userid
      FROM (SELECT *, {keys} AS k FROM ev) ev LEFT JOIN pj ON pj.i = ev.i""")
    # ~5% exact duplicate rows, then a seeded shuffle over the files.
    n_dup = LOG_ROWS - n_unique
    con.execute(f"""
      CREATE TABLE out AS
      SELECT row_number() OVER (ORDER BY hash(j, {seed}, 90), j) - 1 AS pos, l.* EXCLUDE (i)
      FROM (SELECT i AS j, i FROM range({n_unique}) t(i)
            UNION ALL SELECT {n_unique} + d, {r(91, n_unique, 'd')} FROM range({n_dup}) t(d)) s
      JOIN logs l ON l.i = s.i""")
    per_file = -(-LOG_ROWS // LOG_FILES)
    for f in range(LOG_FILES):
        con.execute(f"""
          COPY (SELECT custid, custom, info, logtype, maid, timestamp, userid FROM out
                WHERE pos >= {f * per_file} AND pos < {(f + 1) * per_file} ORDER BY pos)
          TO '{out_dir}/logs/part-{f:05d}.parquet' (FORMAT PARQUET)""")

    # Expected output: C1-C4 keep configured sites, C11 falls back to
    # maid, C12 inner-joins products to the dim and re-appends logins
    # null-padded, C13 drops duplicates. Millis are truncated (C6), then
    # UTC shifts to KST.
    local = "ts + INTERVAL 9 HOUR"
    head = (f"coalesce(userid, maid) AS USER_ID, site AS SHOPPING_ID, "
            f"strftime({local}, '%Y-%m-%d') AS TRANSACTION_DATE, "
            f"strftime({local}, '%H:%M:%S') AS TRANSACTION_TIME, logtype AS LOG_TYPE")
    nulls = ", ".join(f"NULL::VARCHAR AS {c}" for c in OUTPUT_COLUMNS[5:])
    con.execute(f"""
      CREATE TABLE expected AS
      SELECT {head}, d.INTG_ID, d.ITEM_CODE, d.ITEM_NAME, d.CAT1, d.CAT2, d.CAT3, d.CAT4,
             d.INTG_CAT1, d.INTG_CAT2, d.INTG_CAT3, d.INTG_CAT4
      FROM ev JOIN prod USING (i) JOIN dim d ON d.SHOPPING_ID = ev.site AND d.ITEM_CODE = prod.code
      WHERE NOT unconf
      UNION
      SELECT {head}, {nulls} FROM ev WHERE NOT unconf AND logtype = 'login'""")
    stats = dict(zip(
        ["unconfigured_rows", "null_userid_rows", "missing_code_refs", "comma_or_quote_names"],
        con.execute("""
          SELECT (SELECT count(*) FROM ev WHERE unconf),
                 (SELECT count(*) FROM ev WHERE userid IS NULL),
                 (SELECT count(*) FROM prod WHERE code LIKE 'X%'),
                 (SELECT count(*) FROM prod WHERE name LIKE '%,%' OR name LIKE '%"%')""").fetchone()))
    stats["duplicate_rows"] = n_dup
    n, _, digest = relation_hash(con, "expected")
    _check_log_mix(stats, n)
    con.close()
    return {"kind": "logs", "seed": seed, "input_rows": LOG_ROWS, "dim_rows": per_site * len(CONFIGURED),
            "stats": stats, "expected_rows": n, "expected_hash": digest}


def _check_log_mix(stats, expected_rows):
    """Self-check: C1-C4 drop rows, and C11, C12 and C13 each have work."""
    problems = []
    if stats["unconfigured_rows"] == 0:
        problems.append("no unconfigured-site rows for C1-C4 to drop")
    if stats["null_userid_rows"] == 0:
        problems.append("no null userid rows for the C11 maid fallback")
    if stats["missing_code_refs"] == 0:
        problems.append("no product codes missing from the dim for C12 to drop")
    if stats["duplicate_rows"] == 0:
        problems.append("no duplicate rows for C13")
    if stats["comma_or_quote_names"] == 0:
        problems.append("no names with commas or quotes")
    if not expected_rows:
        problems.append("empty expected output")
    if problems:
        raise RuntimeError("generated log mix is degenerate: " + "; ".join(problems))


# ---------------------------------------------------------------- catalog tables

# Row counts for the catalog legs, in the proportions of the TPC-H-like
# repository's test data (orders : lineitem : part = 150 : 600 : 20 at sf0.1).
TABLE_SF = 0.02
EMB_DIM = 64


def table_rows():
    """Rows per table: TPC-H proportions (orders : lineitem : part =
    150 : 600 : 20 at sf0.1) for the relational tables, plus documents
    and embeddings."""
    sf = TABLE_SF
    return {"orders": int(1_500_000 * sf), "lineitem": int(6_000_000 * sf),
            "part": int(200_000 * sf), "supplier": int(10_000 * sf), "customer": int(150_000 * sf),
            "documents": 1_500, "embeddings": 800}


# Tables the catalog rows read (supplier and customer only size key ranges).
TABLES = ("orders", "lineitem", "part", "documents", "embeddings")

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_WORDS = ["a", "the", "data", "spark", "table", "row", "column", "join", "scan", "sort",
             "agg", "group", "window", "key", "value", "query", "filter", "merge", "batch",
             "stream", "fast", "slow", "big", "small", "part", "line", "order", "customer",
             "hash", "vector"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + seconds.astype("timedelta64[s]")).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def gen_tables(seed, out_dir):
    """Write orders, lineitem, part, documents and embeddings with the
    schemas of the repository's test data; return the manifest."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows()
    n_orders, n_lineitem, n_part, n_supp, n_cust, n_docs, n_emb = (
        rows[t] for t in ("orders", "lineitem", "part", "supplier", "customer", "documents", "embeddings"))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "s"))
    day = 86400
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(0, n_cust, size=n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.randint(0, 3, size=n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, size=n_orders), 2)),
        "o_orderdate": _ts("1995-01-01", rng.randint(0, span // day, size=n_orders) * day),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.randint(0, 5, size=n_orders)]),
    })
    qty = rng.randint(1, 51, size=n_lineitem).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_orders, size=n_lineitem).astype(np.int64)),
        "l_partkey": pa.array(rng.randint(0, n_part, size=n_lineitem).astype(np.int64)),
        "l_suppkey": pa.array(rng.randint(0, n_supp, size=n_lineitem).astype(np.int64)),
        "l_linenumber": pa.array(rng.randint(1, 8, size=n_lineitem).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, size=n_lineitem), 2)),
        "l_discount": pa.array(np.round(rng.randint(0, 11, size=n_lineitem) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.randint(0, 9, size=n_lineitem) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.randint(0, 3, size=n_lineitem)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.randint(0, 2, size=n_lineitem)]),
        "l_shipdate": _ts("1995-01-01", rng.randint(0, span // day, size=n_lineitem) * day),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"part {w}" for w in np.array(DOC_WORDS)[rng.randint(0, len(DOC_WORDS), size=n_part)]]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(11, 56, size=n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
                           [rng.randint(0, 6, size=n_part)]),
        "p_size": pa.array(rng.randint(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, size=n_part), 2)),
    })

    # Documents: random word sequences, with planted exact and near
    # duplicates so the dedup operators have work.
    texts = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 10 and r < 0.03:
            texts.append(texts[rng.randint(0, i)])
        elif i > 10 and r < 0.10:
            words = texts[rng.randint(0, i)].split(" ")
            words[rng.randint(0, len(words))] = DOC_WORDS[rng.randint(0, len(DOC_WORDS))]
            texts.append(" ".join(words))
        else:
            n = rng.randint(20, 80)
            texts.append(" ".join(np.array(DOC_WORDS)[rng.randint(0, len(DOC_WORDS), size=n)]))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # Embeddings: unit-norm gaussian vectors, a tenth of them near twins.
    v = rng.normal(size=(n_emb, EMB_DIM))
    twins = np.where(rng.rand(n_emb) < 0.10)[0]
    for t in twins[twins > 0]:
        v[t] = v[rng.randint(0, t)] + rng.normal(scale=0.2, size=EMB_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, size=n_emb).astype(np.int32)),
    })
    return {"kind": "tables", "seed": seed, "rows": {t: rows[t] for t in TABLES}}


def verify_tables(out_dir):
    """Row counts of a cached table set must match the recorded counts."""
    expected = table_rows()
    for name in TABLES:
        got = pq.read_metadata(os.path.join(out_dir, f"{name}.parquet")).num_rows
        if got != expected[name]:
            raise RuntimeError(f"cached {name} has {got} rows, expected {expected[name]}")


# ---------------------------------------------------------------- hashing

def _normalized(con, relation):
    """SQL for one normalized string per row of `relation`: columns sorted
    by name, floats as %.10g, NULL as 'NULL' (the tools/compare.py rules)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        c = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT") or typ.startswith("DECIMAL"):
            expr = f"printf('%.10g', {c}::DOUBLE)"
        else:
            expr = f"CAST({c} AS VARCHAR)"
        parts.append(f"coalesce({expr}, 'NULL')")
    return [c[0] for c in cols], "concat_ws('|', " + ", ".join(parts) + ")"


def relation_hash(con, relation):
    """(row count, column names, order-independent content hash) of a
    DuckDB relation (a table name, a view or a parenthesized query)."""
    cols, row = _normalized(con, relation)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM {relation}").fetchone()
    return n, sorted(cols), f"{int(h):x}"
