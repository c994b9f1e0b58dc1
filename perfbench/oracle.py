"""Output checks that share no code with the package.

The recipe workloads are re-expressed as DuckDB SQL over the same
generated parquet files; the curation chain is checked against the ground
truth the generator planted; vocabulary state is checked against DuckDB
word counts. The batch recipe is compared by an order-independent
checksum (the sum of a 60-bit md5 prefix per row), so neither side has
to sort or collect its rows.
"""

from __future__ import annotations

import duckdb

NULL_MARK = "\\N"
SEP = "\x1f"

# --- mask-shuffle, written from the directive's documented contract -----------
# Each value restarts java.util.Random(0) and replaces every consonant,
# vowel ("y" counts as a vowel) and digit with a draw from its own class,
# keeping case; other characters pass through.

_CLASSES = ("bcdfghjklmnpqrstvwxz", "aeiouy", "0123456789")
_MASK48 = (1 << 48) - 1


def _java_next_int(state: int, bound: int) -> tuple[int, int]:
    while True:
        state = (state * 0x5DEECE66D + 0xB) & _MASK48
        bits = state >> 17
        if bound & (bound - 1) == 0:
            return state, (bound * bits) >> 31
        val = bits % bound
        if bits - val + (bound - 1) < (1 << 31):
            return state, val


def mask_shuffle(value: str) -> str:
    state = 0x5DEECE66D & _MASK48  # Random(0): (0 ^ multiplier) & mask
    out = []
    for ch in value:
        low = ch.lower()
        cls = next((c for c in _CLASSES if low in c), None)
        if cls is None:
            out.append(ch)
            continue
        state, k = _java_next_int(state, len(cls))
        out.append(cls[k].upper() if ch != low else cls[k])
    return "".join(out)


# --- shared SQL pieces -------------------------------------------------------------

def checksum_sql(columns: list[str], relation: str) -> str:
    row = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '{NULL_MARK}')" for c in columns)
    h = f"CAST(CAST('0x' || substr(md5(concat_ws(chr(31), {row})), 1, 15) AS UBIGINT) AS HUGEINT)"
    return f"SELECT count(*) AS n, coalesce(sum({h}), 0) AS h FROM {relation}"


def spark_checksum(df, columns: list[str]) -> tuple[int, int]:
    """The same checksum computed by Spark SQL functions over ``df``."""
    from pyspark.sql import functions as F

    row = [F.coalesce(F.col(c).cast("string"), F.lit(NULL_MARK)) for c in columns]
    h = F.conv(F.substring(F.md5(F.concat_ws(SEP, *row)), 1, 15), 16, 10).cast("decimal(38,0)")
    n, s = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return int(n), int(s or 0)


def _split_fields(prev: str, width: int) -> str:
    """parse-as-csv over a split list: an empty field reads as NULL, a
    missing field (short row) as NULL."""
    cols = ", ".join(f"NULLIF(__f[{i}], '') AS body_{i}" for i in range(1, width + 1))
    return f"SELECT * EXCLUDE (__f), {cols} FROM (SELECT *, string_split(body, ',') AS __f FROM {prev})"


def _mask_number(col: str, keep_from: int, keep: int, masked: int) -> str:
    return (f"CASE WHEN {col} IS NULL THEN NULL "
            f"ELSE '{'x' * masked}' || coalesce(substr({col}, {keep_from}, {keep}), '') END")


# --- recipe_batch ------------------------------------------------------------------

BATCH_STEPS: list[tuple[str, str]] = [
    # (directive, DuckDB select over the previous step "{p}")
    ("parse-as-csv :body ',' false", _split_fields("{p}", 18)),
    ("drop :body", "SELECT * EXCLUDE (body) FROM {p}"),
    ("drop :body_9", "SELECT * EXCLUDE (body_9) FROM {p}"),
    ("drop :body_16", "SELECT * EXCLUDE (body_16) FROM {p}"),
    ("drop :body_17", "SELECT * EXCLUDE (body_17) FROM {p}"),
    ("fill-null-or-empty :body_7 'NA'",
     "SELECT * REPLACE (CASE WHEN body_7 IS NULL OR body_7 = '' THEN 'NA' ELSE body_7 END AS body_7) FROM {p}"),
    ("fill-null-or-empty :body_15 'unknown'",
     "SELECT * REPLACE (CASE WHEN body_15 IS NULL OR body_15 = '' THEN 'unknown' ELSE body_15 END AS body_15) FROM {p}"),
    ("uppercase :body_2", "SELECT * REPLACE (upper(body_2) AS body_2) FROM {p}"),
    ("uppercase :body_15", "SELECT * REPLACE (upper(body_15) AS body_15) FROM {p}"),
    ("mask-number :body_10 'xxxxx####'",
     "SELECT * REPLACE (" + _mask_number("body_10", 6, 4, 5) + " AS body_10) FROM {p}"),
    ("mask-number :body_11 'xxxxxxxxxxxx####'",
     "SELECT * REPLACE (" + _mask_number("body_11", 13, 4, 12) + " AS body_11) FROM {p}"),
    ("mask-shuffle :body_6",
     "SELECT {p}.* REPLACE (m.shuffled AS body_6) FROM {p} LEFT JOIN shuffle_map m ON m.value = {p}.body_6"),
    # filter-row drops a row whose condition is true or NULL
    ("filter-row-if-true exp:{ body_13 > 90 } true",
     "SELECT * FROM {p} WHERE NOT (TRY_CAST(body_13 AS DOUBLE) > 90)"),
]

BATCH_RECIPE = "\n".join(d for d, _ in BATCH_STEPS)


def _chain(source: str, steps: list[str]) -> str:
    ctes = [f"s0 AS ({source})"]
    for i, sql in enumerate(steps, 1):
        ctes.append(f"s{i} AS ({sql.format(p=f's{i - 1}')})")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM s{len(steps)}"


def _connect(shuffle_values: list[str] | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if shuffle_values is not None:
        con.execute("CREATE TABLE shuffle_map (value VARCHAR, shuffled VARCHAR)")
        con.executemany("INSERT INTO shuffle_map VALUES (?, ?)",
                        [(v, mask_shuffle(v)) for v in shuffle_values])
    return con


def batch_expected(parquet: str, shuffle_values: list[str]) -> tuple[list[str], int, int]:
    """(output columns, row count, checksum) of BATCH_RECIPE over the
    ``body`` column of ``parquet``."""
    con = _connect(shuffle_values)
    sql = _chain(f"SELECT body FROM read_parquet('{parquet}')", [s for _, s in BATCH_STEPS])
    con.execute(f"CREATE TEMP VIEW out AS {sql}")
    columns = [r[0] for r in con.execute("DESCRIBE out").fetchall()]
    n, h = con.execute(checksum_sql(columns, "out")).fetchone()
    con.close()
    return columns, int(n), int(h)


# --- design_session ----------------------------------------------------------------

DESIGN_STEPS: list[tuple[str, str]] = [
    ("parse-as-csv :body ',' false", _split_fields("{p}", 18)),
    ("drop :body", "SELECT * EXCLUDE (body) FROM {p}"),
    ("set-type :body_13 int", "SELECT * REPLACE (TRY_CAST(trim(body_13) AS INTEGER) AS body_13) FROM {p}"),
    ("set-column :total exp:{ body_13 * 3 + 1 }", "SELECT *, body_13 * 3 + 1 AS total FROM {p}"),
    ("filter-row exp:{ body_13 > 95 } true", "SELECT * FROM {p} WHERE NOT (body_13 > 95)"),
    ("set-column :name exp:{ body_2 + ' ' + body_3 }", "SELECT *, body_2 || ' ' || body_3 AS name FROM {p}"),
    ("uppercase :body_15", "SELECT * REPLACE (upper(body_15) AS body_15) FROM {p}"),
    ("fill-null-or-empty :body_7 'NA'",
     "SELECT * REPLACE (CASE WHEN body_7 IS NULL OR body_7 = '' THEN 'NA' ELSE body_7 END AS body_7) FROM {p}"),
    ("set-column :size exp:{ total > 150 ? 'big' : 'small' }",
     "SELECT *, CASE WHEN total > 150 THEN 'big' ELSE 'small' END AS size FROM {p}"),
    ("lowercase :body_4", "SELECT * REPLACE (lower(body_4) AS body_4) FROM {p}"),
    ("mask-number :body_10 'xxxxx####'",
     "SELECT * REPLACE (" + _mask_number("body_10", 6, 4, 5) + " AS body_10) FROM {p}"),
    ("set-column :cents exp:{ body_12 * 100 }",
     "SELECT *, TRY_CAST(body_12 AS DOUBLE) * 100 AS cents FROM {p}"),
]

# A directive a designer tries and takes back with undo.
DESIGN_DETOUR = "set-column :flag exp:{ body_18 > 500 }"

_DUCK_TYPES = {"VARCHAR": "string", "INTEGER": "int", "BIGINT": "bigint", "DOUBLE": "double"}


def design_expected(parquet: str, sample_rows: int, n_steps: int) -> tuple[list[tuple[str, str]], list[dict]]:
    """(schema as (name, spark type), rows) of the first ``n_steps``
    design steps over the first ``sample_rows`` rows of ``parquet`` by id."""
    con = _connect()
    source = f"SELECT body FROM read_parquet('{parquet}') ORDER BY id LIMIT {sample_rows}"
    sql = _chain(source, [s for _, s in DESIGN_STEPS[:n_steps]])
    rel = con.execute(sql)
    names = [d[0] for d in rel.description]
    rows = [dict(zip(names, r)) for r in rel.fetchall()]
    types = [r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    con.close()
    return [(n, _DUCK_TYPES.get(t, t)) for n, t in zip(names, types)], rows


# --- state_folds -------------------------------------------------------------------

def word_counts(parquets: list[str]) -> dict[str, int]:
    """Word counts over the texts of ``parquets`` with the fold's
    normalization (lower-case, trim, whitespace runs collapsed)."""
    if not parquets:
        return {}
    con = _connect()
    files = ", ".join(f"'{p}'" for p in parquets)
    rows = con.execute(f"""
        SELECT w, count(*) FROM (
            SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM read_parquet([{files}]))
        WHERE w <> '' GROUP BY w""").fetchall()
    con.close()
    return {w: int(c) for w, c in rows}
