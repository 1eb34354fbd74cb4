import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="include tests marked slow (long e2e tails)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long e2e tail excluded from the default run so the "
        "suite fits the verification window; include with --runslow "
        "or LANTERN_RUN_SLOW=1",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("LANTERN_RUN_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow e2e tail — run with --runslow / LANTERN_RUN_SLOW=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

SF_DIR = os.environ.get("LANTERN_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("lantern-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _canon(rows, columns, ndigits=6):
    """Order-insensitive canonical form: sort columns by name, round floats."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon_val(v):
        if isinstance(v, float):
            return round(v, ndigits)
        if isinstance(v, (list, tuple)):
            return tuple(canon_val(x) for x in v)
        return v

    # None-safe ordering: sort by string form (comparison only needs to
    # be consistent across both sides; equality still uses the values)
    canon_rows = sorted(
        (tuple(canon_val(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple(str(v) for v in t),
    )
    return [columns[i] for i in idx], canon_rows


def assert_matches_oracle(spark_df, duck_con, sql, ndigits=6):
    """Driver-style check: row count + column names + sorted rounded values."""
    sdata = spark_df.collect()
    scols = spark_df.columns
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    ddata = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"schema mismatch: {scols} vs {dcols}"
    assert len(sdata) == len(ddata), f"row count mismatch: {len(sdata)} vs {len(ddata)}"
    _, srows = _canon([tuple(r) for r in sdata], scols, ndigits)
    _, drows = _canon(ddata, dcols, ndigits)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"row {i} mismatch:\n spark={a}\n duck ={b}"


# --- registered-domain oracles ------------------------------------------
# Two DuckDB references for weburl.registered_domain that share no code
# with the Spark renderer: the roster's CASE codegen (psl_duckdb_case)
# and a relational replay of the PSL algorithm (candidate suffixes
# joined against a rules table, winner = exception first, then longest
# public suffix). Both key NULL input to '' — the operator's documented
# contract.

_DUCK_URL_HOST = (
    "regexp_replace(regexp_replace(lower(regexp_extract(trim(v), "
    "'^([A-Za-z][A-Za-z0-9+.\\-]*)://(?:[^/@?#]*@)?([^/?#]*)', 2)), "
    "':[0-9]*$', ''), '\\.$', '')"
)


def _duck_values(values):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    return con


def duckdb_case_domains(values, psl, host_mode=False):
    """eTLD+1 per value (URL, or host with ``host_mode``) from DuckDB
    running ``psl_duckdb_case(psl)``."""
    from lantern_spark.operators.weburl import psl_duckdb_case

    host = "lower(v)" if host_mode else _DUCK_URL_HOST
    con = _duck_values(values)
    rows = con.execute(
        f"""
        WITH h AS (SELECT i, {host} AS host FROM t),
        l AS (SELECT i, host, string_split(host, '.') AS labels,
                     len(string_split(host, '.')) AS n FROM h)
        SELECT i, CASE WHEN host IS NULL THEN ''
                       ELSE {psl_duckdb_case(psl)} END
        FROM l ORDER BY i
        """
    ).fetchall()
    con.close()
    return [d for _, d in rows]


def duckdb_rules_join_domains(values, psl):
    """eTLD+1 per URL from DuckDB replaying the PSL algorithm
    relationally over a rules table built from ``psl``."""
    rules = []
    for k, rs in psl.get("exact", {}).items():
        rules += [(r, k, k, False) for r in rs]
    for k, bs in psl.get("wildcard", {}).items():
        rules += [(b, k, k + 1, False) for b in bs]
    for k, rs in psl.get("exception", {}).items():
        rules += [(r, k, k - 1, True) for r in rs]
    con = _duck_values(values)
    con.execute(
        "CREATE TABLE rules(suffix VARCHAR, match_labels INT, "
        "ps_len INT, is_exception BOOLEAN)"
    )
    con.executemany("INSERT INTO rules VALUES (?, ?, ?, ?)", rules)
    maxk = max([r[1] for r in rules] + [1])
    rows = con.execute(
        f"""
        WITH lab AS (
          SELECT i, host, string_split(host, '.') AS labels,
                 len(string_split(host, '.')) AS n
          FROM (SELECT i, {_DUCK_URL_HOST} AS host FROM t)
          WHERE host IS NOT NULL),
        cand AS (
          SELECT i, k.k,
                 array_to_string(labels[n - k.k + 1 : n], '.') AS cand
          FROM lab, (SELECT unnest(range(1, {maxk} + 1)) AS k) k
          WHERE k.k <= n),
        win AS (
          -- scalar priority key: exceptions beat every rule length
          -- (ps_len < 1000 always)
          SELECT i, max_by(ps_len, is_exception::INT * 1000 + ps_len) AS ps
          FROM cand JOIN rules
            ON cand.cand = rules.suffix AND cand.k = rules.match_labels
          GROUP BY i)
        SELECT lab.i,
               CASE WHEN n <= 1 THEN host
                    ELSE array_to_string(
                      labels[n - least(coalesce(win.ps, 1) + 1, n) + 1 : n],
                      '.')
               END
        FROM lab LEFT JOIN win ON lab.i = win.i
        """
    ).fetchall()
    con.close()
    got = dict(rows)
    return [got.get(i, "") for i in range(len(values))]


@pytest.fixture(scope="session")
def psl_oracles():
    """``(duckdb_case_domains, duckdb_rules_join_domains)``."""
    return duckdb_case_domains, duckdb_rules_join_domains


def synthetic_psl(n_rules=9600, seed=7):
    """A parsed ~``n_rules``-rule ruleset at full-PSL scale: mostly
    2-label exact rules, some 3-label exact rules, wildcards and their
    exceptions, all under the unused ``zz`` TLD."""
    import random

    from lantern_spark.operators.weburl import parse_psl

    rnd = random.Random(seed)
    lines = []
    for i in range(n_rules):
        x = rnd.random()
        if x < 0.8:
            lines.append(f"r{i}.zz")
        elif x < 0.93:
            lines.append(f"a{i}.r{i % 50}.zz")
        elif x < 0.97:
            lines.append(f"*.w{i}.zz")
        else:
            lines.append(f"!ok.w{i - 1}.zz")
    return parse_psl("\n".join(lines))


@pytest.fixture(scope="session")
def big_psl():
    return synthetic_psl()
