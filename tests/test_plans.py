"""Physical-plan assertions: the plans we want, not just plans that pass.

Checks .explain() output for: parquet filter pushdown + column pruning,
broadcast joins where intended, whole-stage codegen coverage, and the
absence of Python evaluation in the maintenance hot path.
"""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"
LI = "/root/testdata/sf0.001/lineitem.parquet"
PART = "/root/testdata/sf0.001/part.parquet"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet(LI)
          .filter(F.col("l_quantity") > 45)
          .select("l_orderkey", "l_quantity"))
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "GreaterThan(l_quantity" in p


def test_column_pruning_reaches_parquet(spark):
    df = spark.read.parquet(LI).select("l_orderkey", "l_quantity")
    p = plan_of(df)
    rs = [line for line in p.splitlines() if "ReadSchema" in line]
    assert rs and "l_extendedprice" not in rs[0]
    assert "l_orderkey" in rs[0] and "l_quantity" in rs[0]


def test_broadcast_join_in_lookup(spark):
    li, pt = spark.read.parquet(LI), spark.read.parquet(PART)
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    assert "BroadcastHashJoin" in plan_of(j)


def test_impute_pipeline_has_no_python_eval(spark):
    """The maintenance hot path must be 100% JVM: no BatchEvalPython (row
    UDF) and no ArrowEvalPython (pandas UDF) anywhere in the impute plan."""
    from engine.index import build_candidate_index
    from engine.merge import plan_impute_updates
    from engine.synth import generate_transcripts, inject_missing
    df, _ = inject_missing(generate_transcripts(spark, num_convs=10))
    updates = plan_impute_updates(df, build_candidate_index(df))
    p = plan_of(updates)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_zorder_key_is_codegen(spark):
    """The SQL morton key must stay inside WholeStageCodegen (no UDF node)."""
    from engine.layout import zorder_key
    from engine.synth import generate_transcripts
    df = generate_transcripts(spark, num_convs=5).withColumn(
        "k", zorder_key())
    p = plan_of(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "codegen id" in p  # formatted-mode marker for WholeStageCodegen


def test_hilbert_key_is_arrow_not_row_python(spark):
    """Hilbert needs Python — but it must be the Arrow-vectorized kind."""
    from engine.layout import hilbert_key
    from engine.synth import generate_transcripts
    df = generate_transcripts(spark, num_convs=5).withColumn(
        "k", hilbert_key())
    p = plan_of(df)
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_scan_prunes_before_spark_sees_files(spark, tmp_path):
    """Manifest pruning hands Spark a smaller file list — visible as fewer
    'files read' than the table holds."""
    from engine.format import Table
    from engine.scan import Predicate, scan
    from engine.synth import generate_transcripts
    from engine.write import append
    t = Table.create(str(tmp_path / "t"))
    append(t, generate_transcripts(spark, num_convs=40), num_files=8,
           range_cols=["conv_id", "turn_idx"])
    pruned = scan(spark, t, predicates=[
        Predicate("conv_id", "eq", "conv-00000003")])
    full = scan(spark, t)
    n_pruned = pruned.rdd.getNumPartitions()
    assert pruned.inputFiles() and len(pruned.inputFiles()) < len(
        full.inputFiles())
    assert n_pruned <= len(full.inputFiles())


def test_agg_has_partial_hash_aggregate(spark):
    """groupBy must compile to partial+final HashAggregate (map-side
    combine), not a raw shuffle of all rows."""
    df = (spark.read.parquet(LI)
          .groupBy("l_returnflag").agg(F.sum("l_quantity")))
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2


def test_merge_rewrite_broadcast_is_size_gated(spark):
    """merge_into auto-gates the source broadcast: the non-broadcast plan
    (what a >BROADCAST_MAX_ROWS source gets) must not force a
    BroadcastExchange on the source side."""
    from engine.merge import build_rewrite
    from engine.synth import generate_transcripts
    from pyspark.sql import functions as F
    tgt = generate_transcripts(spark, num_convs=20)
    src = tgt.select("conv_id", "turn_idx",
                     F.lit("X").alias("upd_text")).limit(50)
    auto_off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = plan_of(build_rewrite(tgt, src, {"text": "upd_text"},
                                      broadcast_source=False))
        forced = plan_of(build_rewrite(tgt, src, {"text": "upd_text"},
                                       broadcast_source=True))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_off)
    assert "BroadcastExchange" not in gated
    assert "BroadcastExchange" in forced


def test_scored_pairs_is_hash_aggregate(spark):
    """The widest aggregation of the merge pass must stay a HashAggregate:
    a string/struct-typed aggregate buffer (e.g. a min(pointer)) silently
    demotes it to a SortAggregate over the full exploded pair set (+2.5×
    measured). Guard the regression. The keys are component-hashed longs:
    no composite key string (concat_ws) and no md5 sig is ever built."""
    from engine.index import _scored_pairs, _with_context
    from engine.synth import generate_transcripts
    p = plan_of(_scored_pairs(_with_context(
        generate_transcripts(spark, num_convs=5))))
    assert "HashAggregate" in p
    assert "SortAggregate" not in p
    assert "concat_ws" not in p
    assert "md5" not in p


def test_mor_scan_plans(spark, tmp_path):
    """Merge-on-read plan shape: (a) a CLEAN scan (no delete backlog) has
    zero MoR overhead — no join at all; (b) a backlog scan's bulk branch is
    ONE BroadcastHashJoin LeftAnti with NO input_file_name() string work
    (the seq-split fast path: only the tiny insert files pay the
    sequence-aware join); (c) column pruning still reaches the parquet
    scans through the anti-join."""
    from engine.format import Table
    from engine.merge import merge_into
    from engine.scan import scan
    from engine.synth import generate_transcripts
    from engine.write import append

    t = Table.create(str(tmp_path / "tbl"))
    df = generate_transcripts(spark, num_convs=30)
    append(t, df, num_files=4, range_cols=["conv_id", "turn_idx"])

    clean = plan_of(scan(spark, t))
    assert "Join" not in clean and "__mor" not in clean

    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd_text", F.lit("e")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="m1",
               mode="mor")

    p = plan_of(scan(spark, t))
    # the bulk (pre-delete) branch: exactly one LeftAnti over the base
    # files and no per-row file-name derivation on that side — the plan
    # carries input_file_name only for the tiny insert-file branch
    assert p.count("Join type: LeftAnti") == 2  # old + seq-aware new branch
    assert "BroadcastHashJoin" in p
    # column pruning survives the anti-join: a 2-column projection reads
    # only keys (+ the projected column) from the base files
    pruned = plan_of(scan(spark, t, columns=["conv_id", "role"]))
    rs = [line for line in pruned.splitlines() if "ReadSchema" in line]
    base_rs = [r for r in rs if "role" in r]
    assert base_rs and all("text" not in r for r in base_rs)


def test_delete_where_cow_survivor_plan_is_jvm_only(spark, tmp_path):
    """The dense-delete survivor rewrite must stay whole-JVM (no Python
    eval) and read through the same delete-applied plan shape as scans."""
    from engine.format import Table
    from engine.scan import Predicate, read_with_deletes
    from engine.synth import generate_transcripts
    from engine.write import append

    t = Table.create(str(tmp_path / "tbl"))
    df = generate_transcripts(spark, num_convs=20)
    append(t, df, num_files=3, range_cols=["conv_id", "turn_idx"])
    entries = t.manifest_entries()
    live = read_with_deletes(spark, t, entries, [])
    match = Predicate("turn_idx", "ge", 3).to_column()
    # the DEAD side (bare filter) pushes its conjuncts to the parquet scan
    dead_p = plan_of(live.filter(match))
    assert "PushedFilters" in dead_p and "GreaterThanOrEqual(turn_idx" \
        in dead_p
    # the survivor side carries the explicit NULL collapse and stays JVM
    surv_p = plan_of(live.filter(~F.coalesce(match, F.lit(False))))
    assert "BatchEvalPython" not in surv_p
    assert "ArrowEvalPython" not in surv_p


def test_folded_delete_scan_keeps_broadcast_anti_join(spark, tmp_path):
    """After compact_deletes, the scan's delete application still plans as
    a broadcast anti-join (the folded file's row-level __delete_seq rides
    the tiny delete side, never the data side)."""
    from engine.format import Table
    from engine.maintain import compact_deletes
    from engine.merge import merge_into
    from engine.scan import scan
    from engine.synth import generate_transcripts
    from engine.write import append

    t = Table.create(str(tmp_path / "tbl"))
    df = generate_transcripts(spark, num_convs=30)
    append(t, df, num_files=4, range_cols=["conv_id", "turn_idx"])
    for i in range(2):
        src = (scan(spark, t).select("conv_id", "turn_idx")
               .orderBy("conv_id", "turn_idx").offset(i * 2).limit(2)
               .withColumn("upd_text", F.lit(f"g{i}")))
        merge_into(spark, t, src, {"text": "upd_text"}, pass_id=f"m{i}",
                   mode="mor")
    compact_deletes(spark, t, pass_id="fold")

    p = plan_of(scan(spark, t))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # __delete_seq never leaks into the scan's output schema
    out_cols = scan(spark, t).columns
    assert "__delete_seq" not in out_cols
