import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        SparkSession.builder.master("local[4]")
        .appName("trs-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture()
def tmp_images(tmp_path):
    """Six readable fake image files (the synthetic loader only needs
    readable bytes)."""
    paths = []
    for i in range(6):
        p = tmp_path / f"img{i}.dat"
        p.write_bytes(bytes([i]) * 32)
        paths.append(str(p))
    return paths


# the DuckDB oracle's hashed-shingle sets (queries/_shared.py
# _oracle_lsh_verified): distinct md5-slice ints of the lowercased 5-grams
_ORACLE_SHINGLE_SETS = """
SELECT doc_id,
       list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 1)),
         i -> ('0x' || substr(md5(substr(lower(text), i, 5)), 1, 8))::BIGINT)) AS s
FROM documents
"""


@pytest.fixture(scope="session")
def dedup_reference():
    """Reference fuzzy-dedup pairs over a documents frame, derived from
    the DuckDB oracle SQL, independently of the Spark operators.

    Candidate pairs and their exact ``est_jaccard`` come from the
    oracle's LSH band joins over the frame's (doc_id, text) rows;
    ``jaccard = inter / (|A| + |B| - inter)`` is computed in Python
    float64 from the oracle's shingle sets.
    ``reference(docs, min_est, threshold, pairs)`` returns
    ``{(id_a, id_b): (est_jaccard, jaccard)}`` for ``pairs``:

    * ``"self"``: id_a < id_b (``lsh_verified_pairs``);
    * ``"incremental"``: index doc_id % 10 != 0 x batch doc_id % 10 == 0
      (``incremental_neardup_pairs``, the e1_incremental_dedup split);
    * ``"all"``: every doc on both sides, self-pairs included.
    """
    import duckdb

    from tensorflow_recorder_spark.queries._shared import _oracle_lsh_pairs
    from tensorflow_recorder_spark.queries.e1 import _oracle_incremental_dedup

    con = duckdb.connect()
    split = " AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0"

    def reference(docs, min_est, threshold, pairs="self"):
        con.register("documents", docs.select("doc_id", "text").toPandas())
        sets = {d: set(s) for d, s in con.sql(_ORACLE_SHINGLE_SETS).fetchall()}
        if pairs == "self":
            sql = _oracle_lsh_pairs(min_est)
        else:
            # a verify floor below any Jaccard keeps every candidate
            sql = _oracle_incremental_dedup(min_est, threshold=-1.0)
            if pairs == "all":
                assert sql.count(split) == 4
                sql = sql.replace(split, "")
        out = {}
        for a, b, est in con.sql(
            f"SELECT id_a, id_b, CAST(est_jaccard AS DOUBLE) FROM ({sql})"
        ).fetchall():
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                out[(a, b)] = (est, jac)
        con.unregister("documents")
        return out

    yield reference
    con.close()
