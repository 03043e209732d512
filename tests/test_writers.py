"""Sink tests: write_table + COPY TO command, with readback checks."""

import os

import pandas as pd
import pytest

from dfsql_spark import DataSource
from dfsql_spark.sources.writers import write_table


@pytest.fixture()
def ds(spark):
    ds = DataSource(spark=spark)
    ds.add_table(
        "sink_src",
        pd.DataFrame(
            {"k": ["a", "a", "b", "b", "c"], "v": [1, 2, 3, 4, 5]}
        ),
    )
    yield ds
    ds.spark.catalog.dropTempView("sink_src")


def test_write_parquet_roundtrip(ds, tmp_path):
    out = str(tmp_path / "plain")
    write_table(ds.spark.table("sink_src"), out)
    back = ds.spark.read.parquet(out)
    assert back.count() == 5
    assert set(back.columns) == {"k", "v"}


def test_write_partitioned(ds, tmp_path):
    out = str(tmp_path / "parts")
    write_table(ds.spark.table("sink_src"), out, partition_by="k")
    assert sorted(
        d for d in os.listdir(out) if d.startswith("k=")
    ) == ["k=a", "k=b", "k=c"]
    # partition pruning: reading one partition sees only its rows
    one = ds.spark.read.parquet(out).filter("k = 'b'")
    assert one.count() == 2


def test_write_csv_has_header(ds, tmp_path):
    out = str(tmp_path / "csv")
    write_table(ds.spark.table("sink_src"), out, fmt="csv", repartition=1)
    back = ds.spark.read.options(header=True, inferSchema=True).csv(out)
    assert back.count() == 5


def test_write_rejects_unknown_format(ds, tmp_path):
    with pytest.raises(ValueError):
        write_table(ds.spark.table("sink_src"), str(tmp_path / "x"), fmt="xlsx")


def test_copy_table_command(ds, tmp_path):
    out = str(tmp_path / "copy_table")
    assert ds.query(f"COPY sink_src TO '{out}'") == "OK"
    assert ds.spark.read.parquet(out).count() == 5


def test_copy_query_command_with_partition(ds, tmp_path):
    out = str(tmp_path / "copy_query")
    status = ds.query(
        f"COPY (SELECT k, SUM(v) AS total FROM sink_src GROUP BY k) "
        f"TO '{out}' FORMAT parquet PARTITION BY (k)"
    )
    assert status == "OK"
    back = ds.spark.read.parquet(out).toPandas().sort_values("k")
    assert list(back["total"]) == [3, 7, 5]


def test_bucketed_join_has_no_shuffle(ds, tmp_path):
    import pandas as pd
    from dfsql_spark.sources.writers import write_bucketed_table

    spark = ds.spark
    facts = spark.createDataFrame(
        pd.DataFrame({"k": list(range(100)) * 2, "v": range(200)})
    )
    dims = spark.createDataFrame(
        pd.DataFrame({"k": range(100), "w": range(100)})
    )
    write_bucketed_table(facts, "b_facts", bucket_by="k", n_buckets=8)
    write_bucketed_table(dims, "b_dims", bucket_by="k", n_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both sides bucketed on the join key: no Exchange in the plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 200
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_zorder_prunes_secondary_dimension(ds, tmp_path):
    """Z-order vs linear sort: files are curve segments covering small
    hyper-rectangles, so a predicate on the SECONDARY column prunes
    most files by parquet footer stats — a linear sort on the leading
    column cannot prune it at all (every file spans the full secondary
    range).  This is the property that matters at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    from dfsql_spark.sources.writers import write_table, write_zordered_table

    spark = ds.spark
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "sorted")
    write_zordered_table(li, zpath, zorder_by=["l_partkey", "l_suppkey"], n_files=16)
    write_table(li, spath, repartition=16, sort_by=["l_partkey"])

    def ranges(path, col):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            ci = next(
                j for j in range(md.num_columns)
                if md.row_group(0).column(j).path_in_schema == col
            )
            stats = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    from pyspark.sql import functions as F

    lo, hi = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    band_lo = lo
    band_hi = lo + max(1, (hi - lo) // 20)  # a ~5% band on the secondary col

    def frac_hit(path):
        rs = ranges(path, "l_suppkey")
        hit = sum(1 for mn, mx in rs if not (mx < band_lo or mn > band_hi))
        return hit / len(rs)

    z_hit, s_hit = frac_hit(zpath), frac_hit(spath)
    # linear layout: suppkey is uncorrelated with the sort key, every
    # file spans ~the full suppkey range -> no pruning
    assert s_hit == 1.0, s_hit
    # z-order: most files don't intersect the 5% band
    assert z_hit <= 0.5, (z_hit, s_hit)
    # and the data itself round-trips
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_validation(ds, tmp_path):
    from dfsql_spark.sources.writers import write_zordered_table

    spark = ds.spark
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    with pytest.raises(ValueError, match="at least 2"):
        write_zordered_table(li, str(tmp_path / "x"), zorder_by=["l_partkey"])
    with pytest.raises(ValueError, match="numeric"):
        write_zordered_table(
            li, str(tmp_path / "x"), zorder_by=["l_returnflag", "l_partkey"]
        )
    with pytest.raises(ValueError, match="64-bit"):
        write_zordered_table(
            li, str(tmp_path / "x"),
            zorder_by=["l_partkey", "l_suppkey", "l_orderkey", "l_quantity"],
            bits=16,
        )


def test_merge_table_update_insert_delete(ds, tmp_path):
    """Batch MERGE semantics: update replaces matched rows, inserts
    append unmatched source keys, delete removes matched keys, ignore
    keeps the target row; NULL data values don't confuse matching."""
    from dfsql_spark.sources.writers import merge_table, write_table

    spark = ds.spark
    tgt = str(tmp_path / "t")
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 20.0, None]})
    )
    write_table(base, tgt)
    src = spark.createDataFrame(
        pd.DataFrame({"k": [2, 4], "v": [99.0, 40.0]})
    )
    merge_table(spark, tgt, src, key="k")
    got = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: None, 4: 40.0}

    merge_table(spark, tgt, src.filter("k = 2"), key="k", when_matched="delete",
                insert_not_matched=False)
    got = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert got == {1: 10.0, 3: None, 4: 40.0}

    newer = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [111.0]}))
    merge_table(spark, tgt, newer, key="k", when_matched="ignore")
    got = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert got[1] == 10.0  # ignore keeps the target row

    with pytest.raises(ValueError, match="schema mismatch"):
        merge_table(spark, tgt, src.withColumnRenamed("v", "w"), key="k")
    with pytest.raises(ValueError, match="when_matched"):
        merge_table(spark, tgt, src, key="k", when_matched="upsert")


def test_merge_into_command(ds, tmp_path):
    """The SQL surface: MERGE INTO '<path>' USING <src> ON (k) routes
    through merge_table with MERGE-conventional defaults."""
    from dfsql_spark.sources.writers import write_table

    spark = ds.spark
    tgt = str(tmp_path / "cmd_target")
    write_table(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})), tgt
    )
    ds.add_table("updates", pd.DataFrame({"k": [2, 3], "v": [22.0, 33.0]}))
    assert ds.query(f"MERGE INTO '{tgt}' USING updates ON (k)") == "OK"
    got = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 33.0}
    # subquery source + WHEN MATCHED DELETE + NO INSERT
    assert (
        ds.query(
            f"MERGE INTO '{tgt}' USING (SELECT k, v FROM updates WHERE k = 2) "
            f"ON (k) WHEN MATCHED DELETE NO INSERT"
        )
        == "OK"
    )
    got = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert got == {1: 1.0, 3: 33.0}
    # NO VALIDATE surfaces the validate_unique_key bypass in SQL
    ds.add_table("dups", pd.DataFrame({"k": [1, 1], "v": [7.0, 8.0]}))
    from dfsql_spark.exceptions import DfsqlException

    with pytest.raises((ValueError, DfsqlException)):
        ds.query(f"MERGE INTO '{tgt}' USING dups ON (k)")
    assert ds.query(f"MERGE INTO '{tgt}' USING dups ON (k) NO VALIDATE") == "OK"
    spark.catalog.dropTempView("updates")
    spark.catalog.dropTempView("dups")


def test_merge_table_rejects_duplicate_source_keys(ds, tmp_path):
    """Standard MERGE semantics: duplicate source join keys error by
    default (they would multiply the matched target row); the
    validate_unique_key=False bypass keeps the multiplying behavior
    for callers who want it."""
    from dfsql_spark.sources.writers import merge_table, write_table

    spark = ds.spark
    tgt = str(tmp_path / "dup_t")
    write_table(
        spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]})), tgt
    )
    dup_src = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "v": [2.0, 3.0]})
    )
    with pytest.raises(ValueError, match="duplicate join keys"):
        merge_table(spark, tgt, dup_src, key="k")
    # bypass: both source rows survive (documented multiplication)
    merge_table(spark, tgt, dup_src, key="k", validate_unique_key=False)
    assert spark.read.parquet(tgt).count() == 2
    # a key column named "count" must not break the validation agg
    tgt2 = str(tmp_path / "count_t")
    write_table(
        spark.createDataFrame(pd.DataFrame({"count": [1], "v": [1.0]})), tgt2
    )
    src2 = spark.createDataFrame(pd.DataFrame({"count": [1, 2], "v": [9.0, 8.0]}))
    merge_table(spark, tgt2, src2, key="count")
    assert spark.read.parquet(tgt2).count() == 2


def test_write_training_shards_roundtrip_and_manifest(spark, tmp_path, duck):
    """Shard export: every row lands exactly once, assignment matches
    the repo determinism contract (DuckDB recomputes every shard id
    from the same md5 formula), the manifest matches the files on
    disk, and a repartitioned input produces the identical layout."""
    import pandas as pd

    from dfsql_spark.sources.writers import write_training_shards

    pdf = pd.DataFrame(
        {"doc_id": range(200), "n_tok": [(i * 7) % 50 + 1 for i in range(200)]}
    )
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(
        df, out, n_shards=8, token_col="n_tok"
    ).toPandas()

    back = spark.read.parquet(out)
    assert back.count() == 200
    assert sorted(r.doc_id for r in back.collect()) == list(range(200))
    # hive layout: one dir per occupied shard
    dirs = {d for d in os.listdir(out) if d.startswith("shard=")}
    assert dirs == {f"shard={r.shard}" for _, r in manifest.iterrows()}

    # DuckDB recomputes the full manifest from the contract formula
    duck.register("shard_src_pd", pdf)
    want = duck.sql("""
        SELECT CAST(CAST('0x' || substr(md5('shard:' || doc_id::VARCHAR),
                   1, 8) AS BIGINT) % 8 AS INT) AS shard,
               count(*) AS n_docs, sum(n_tok) AS n_tokens
        FROM shard_src_pd GROUP BY 1
    """).df()
    got = manifest.sort_values("shard").reset_index(drop=True)
    want = want.sort_values("shard").reset_index(drop=True)
    assert got["shard"].tolist() == want["shard"].tolist()
    assert got["n_docs"].tolist() == want["n_docs"].tolist()
    assert [int(x) for x in got["n_tokens"]] == [
        int(x) for x in want["n_tokens"]
    ]
    # written manifest file agrees with the returned frame
    mf = spark.read.parquet(out + "/_manifest").toPandas()
    assert mf.sort_values("shard").reset_index(drop=True).equals(got)

    # determinism: a differently-partitioned input -> same assignment
    out2 = str(tmp_path / "shards2")
    write_training_shards(
        df.repartition(13), out2, n_shards=8, token_col="n_tok",
        write_manifest=False,
    )
    a = spark.read.parquet(out).select("doc_id", "shard").toPandas()
    b = spark.read.parquet(out2).select("doc_id", "shard").toPandas()
    assert a.sort_values("doc_id").reset_index(drop=True).equals(
        b.sort_values("doc_id").reset_index(drop=True)
    )


def test_write_training_shards_token_sizing_and_validation(spark, tmp_path):
    import pandas as pd

    from dfsql_spark.sources.writers import write_training_shards

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(60), "n_tok": [10] * 60})
    )
    # 600 tokens total / 150 target -> 4 shards
    out = str(tmp_path / "sized")
    m = write_training_shards(
        df, out, shard_tokens=150, token_col="n_tok", write_manifest=False
    ).toPandas()
    assert m["shard"].nunique() <= 4 and m["n_docs"].sum() == 60
    assert {d for d in os.listdir(out) if d.startswith("shard=")} <= {
        f"shard={i}" for i in range(4)
    }
    with pytest.raises(ValueError, match="exactly one"):
        write_training_shards(df, out, n_shards=4, shard_tokens=100)
    with pytest.raises(ValueError, match="exactly one"):
        write_training_shards(df, out)
    with pytest.raises(ValueError, match="requires token_col"):
        write_training_shards(df, out, shard_tokens=100)
    with pytest.raises(ValueError, match="n_shards"):
        write_training_shards(df, out, n_shards=0)


def test_write_training_shards_csv_null_key_and_append_manifest(
    spark, tmp_path
):
    """Review-fix pins: (1) csv export round-trips with headers so the
    manifest resolves token_col; (2) NULL keys raise instead of
    vanishing into the hive default partition; (3) _manifest is always
    overwritten — an append of data must not stack stale manifest
    generations."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dfsql_spark.sources.writers import write_training_shards

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "n_tok": [5] * 40})
    )
    # (1) csv format
    out = str(tmp_path / "csv_shards")
    m = write_training_shards(
        df, out, n_shards=4, token_col="n_tok", fmt="csv"
    ).toPandas()
    assert m["n_docs"].sum() == 40 and int(m["n_tokens"].sum()) == 200
    # (2) NULL key refuses
    with_null = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, None], "n_tok": [5, 5]})
    )
    with pytest.raises(ValueError, match="NULL"):
        write_training_shards(
            with_null, str(tmp_path / "nope"), n_shards=2, token_col="n_tok"
        )
    # (3) append mode: manifest reflects CURRENT directory state only
    out2 = str(tmp_path / "appended")
    write_training_shards(df, out2, n_shards=4, token_col="n_tok")
    write_training_shards(
        df.withColumn("doc_id", F.col("doc_id") + 100),
        out2, n_shards=4, token_col="n_tok", mode="append",
    )
    mf = spark.read.parquet(out2 + "/_manifest").toPandas()
    assert mf["n_docs"].sum() == 80  # one generation, full count
    assert len(mf) == mf["shard"].nunique()


def test_write_training_shards_csv_newline_text(spark, tmp_path):
    """Round-11 advisor pin: a curated TEXT corpus exported as csv
    carries embedded newlines and quotes in the normal case; the
    manifest's on-disk read-back must parse them as ONE record each
    (multiLine + RFC-4180 quote doubling on both writer and reader)
    instead of splitting every multi-line doc into several phantom
    rows — and it must keep the pre-write schema (no inferSchema
    second-guessing of token counts)."""
    import pandas as pd

    from dfsql_spark.sources.writers import write_training_shards

    texts = [
        "line one\nline two\nline three",
        'she said "hi"\nthen left',
        "plain single line",
        "trailing newline\n",
        "comma, separated, values\nand a second line",
        'quote " and\nnewline together',
    ] * 5
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "n_tok": [len(t.split()) for t in texts],
        }
    )
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "csv_nl_shards")
    m = write_training_shards(
        df, out, n_shards=3, token_col="n_tok", fmt="csv"
    ).toPandas()
    # the advisor's exact failure mode: phantom rows inflate n_docs
    assert int(m["n_docs"].sum()) == len(texts)
    assert int(m["n_tokens"].sum()) == int(pdf["n_tok"].sum())
    # and the read-back contract round-trips the text verbatim
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema(df.schema)
        .csv(out)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert back["text"].tolist() == pdf["text"].tolist()
