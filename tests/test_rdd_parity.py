"""RDD K/V parity tests mirroring the reference suite's computed-expected
assertions (reference: S3ShuffleManagerTest.scala — fold identity :192-196,
combine counts :131-139, sortedness scans :92-97,165-170). The RDD ops are
Spark's own methods; the DataFrame forms are q13–q15 and q58."""

import random


def test_fold_by_key_identity(spark):
    # mirrors testcase at S3ShuffleManagerTest.scala:176-205:
    # pairs (t/2, t*2) for t in 0..999; foldByKey(0)(_+_) then
    # key*2*2 + (key*2+1)*2 === value
    sc = spark.sparkContext
    rdd = sc.parallelize(range(1000), 10).map(lambda t: (t // 2, t * 2))
    result = dict(rdd.foldByKey(0, lambda a, b: a + b, 5).collect())
    assert len(result) == 500
    for key, value in result.items():
        assert key * 2 * 2 + (key * 2 + 1) * 2 == value


def test_combine_by_key_counts(spark):
    # mirrors testCombineByKey (S3ShuffleManagerTest.scala:103-144):
    # values 0..999 keyed by v % 10 → each key combines exactly 100 values
    sc = spark.sparkContext
    rdd = sc.parallelize(range(1000), 8).map(lambda v: (v % 10, v))
    combined = rdd.combineByKey(
        createCombiner=lambda v: [v],
        mergeValue=lambda acc, v: acc + [v],
        mergeCombiners=lambda a, b: a + b,
        numPartitions=5,
    ).collect()
    assert len(combined) == 10
    for key, values in combined:
        assert len(values) == 100
        assert all(v % 10 == key for v in values)


def test_reduce_by_key_matches_fold(spark):
    sc = spark.sparkContext
    rdd = sc.parallelize(range(1000), 8).map(lambda t: (t % 25, t))
    reduced = dict(rdd.reduceByKey(lambda a, b: a + b, 5).collect())
    assert len(reduced) == 25
    for key, value in reduced.items():
        assert value == sum(v for v in range(1000) if v % 25 == key)


def test_aggregate_by_key_mean(spark):
    # aggregateByKey with a (sum, count) accumulator — the UDAF primitive
    sc = spark.sparkContext
    rdd = sc.parallelize(range(600), 6).map(lambda t: (t % 3, t))
    agg = dict(
        rdd.aggregateByKey(
            (0, 0),
            seqFunc=lambda acc, v: (acc[0] + v, acc[1] + 1),
            combFunc=lambda a, b: (a[0] + b[0], a[1] + b[1]),
            numPartitions=4,
        ).collect()
    )
    for key, (s, c) in agg.items():
        expect = [v for v in range(600) if v % 3 == key]
        assert c == len(expect) and s == sum(expect)


def test_group_by_key_no_combine(spark):
    # mirrors runWithSparkConf_noMapSideCombine (S3ShuffleManagerTest.scala:56-73)
    sc = spark.sparkContext
    rdd = sc.parallelize(range(100), 4).map(lambda t: (t % 7, t))
    grouped = dict(rdd.groupByKey(3).mapValues(sorted).collect())
    assert len(grouped) == 7
    for key, values in grouped.items():
        assert values == sorted(v for v in range(100) if v % 7 == key)


def test_sort_by_key_terasort_like(spark):
    # mirrors teraSortLike (S3ShuffleManagerTest.scala:146-174): random int
    # keys, sortByKey(true, n), global sortedness via pairwise scan: collect()
    # concatenates partitions in order, so it equals the sorted list only if
    # every partition is sorted and the partition ranges are ordered
    sc = spark.sparkContext
    rng = random.Random(42)
    data = [(rng.randint(0, 1 << 30), i) for i in range(5000)]
    rdd = sc.parallelize(data, 16)
    sorted_rdd = rdd.sortByKey(True, 7)
    assert sorted_rdd.getNumPartitions() == 7
    keys = [k for k, _ in sorted_rdd.collect()]
    assert keys == sorted(k for k, _ in data)


def test_sort_by_global(spark):
    # mirrors forced-sort-shuffle sortedness assert (S3ShuffleManagerTest.scala:75-101)
    sc = spark.sparkContext
    rdd = sc.parallelize([(i * 37) % 1000 for i in range(1000)], 8)
    out = rdd.sortBy(lambda x: x, True, 5)
    vals = out.collect()
    assert vals == sorted(vals)


def test_validate_total_sort_plan_side(spark):
    """TeraValidate DataFrame twin: Arrow-batched per-partition summaries,
    no .rdd / per-row Python in the path; positive + negative cases."""
    from pyspark.sql import functions as F

    from spark_s3_shuffle_spark.operators import relational as R

    df = spark.range(0, 5000).select(
        F.unhex(F.md5(F.col("id").cast("string"))).alias("key")
    )
    ts = df.repartitionByRange(7, "key").sortWithinPartitions("key")
    row = R.validate_total_sort(ts, "key").collect()[0]
    assert row["n"] == 5000
    assert row["sorted"] == 1
    assert row["first_key"] < row["last_key"]

    # negative: deliberately round-robin shuffled, not sorted
    scrambled = df.repartition(7)
    bad = R.validate_total_sort(scrambled, "key").collect()[0]
    assert bad["n"] == 5000
    assert bad["sorted"] == 0


def test_validate_total_sort_detects_boundary_violation(spark):
    """Partitions each internally sorted but ranges interleaved across
    partitions must fail the boundary check."""
    from pyspark.sql import functions as F

    from spark_s3_shuffle_spark.operators import relational as R

    df = spark.range(0, 1000).select(F.col("id").cast("long").alias("key"))
    # hash-partition (interleaves ranges) then sort within partitions:
    # locally monotone, globally wrong
    local_sorted = df.repartition(5, "key").sortWithinPartitions("key")
    row = R.validate_total_sort(local_sorted, "key").collect()[0]
    assert row["n"] == 1000
    assert row["sorted"] == 0
