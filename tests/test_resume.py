"""Checkpoint/resume (north rule): a killed run resumes without recomputing
finished partitions, and the final digest is byte-identical to an
uninterrupted run.  Plus salted tree-merge equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_MED}/documents.parquet")


def _final_digests(ck):
    return {r["key"]: bytes(r["digest"]) for r in ck.finalize().collect()}


def test_resume_after_kill_byte_identical(spark, docs, tmp_path):
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=16, delta=0.0,
    )
    # uninterrupted run
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "clean"), **kw)
    assert clean.run(docs) == 16
    want = _final_digests(clean)

    # killed after 5 partitions, then resumed
    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw)
    assert ck.run(docs, fail_after_parts=5) == 5
    # resume processes only the remaining 11
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw)
    assert resumed.run(docs) == 11
    # third run: nothing left
    assert TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw).run(docs) == 0
    assert _final_digests(resumed) == want


def test_checkpoint_rows_carry_lineage_and_metrics(spark, docs, tmp_path):
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    ck = TDigestCheckpointer(
        spark=spark, ckpt_path=str(tmp_path / "ck"), keys=["lang"],
        value_col="n_chars", id_col="doc_id", n_parts=8, delta=0.01,
    )
    ck.run(docs)
    rows = spark.read.parquet(str(tmp_path / "ck"))
    assert rows.where(F.col("rows") <= 0).count() == 0
    assert rows.where(F.col("wall_ms") < 0).count() == 0
    r = rows.first()
    assert "tdigest(delta=0.01" in r["lineage"]
    assert r["input_snapshot"].startswith("files=")
    # every (part, key) pair appears exactly once
    assert (
        rows.groupBy("part_id", "key").count().where(F.col("count") > 1).count() == 0
    )
    # metrics: total checkpointed rows == input rows
    per_part = rows.dropDuplicates(["part_id"]).agg(F.sum("rows")).collect()[0][0]
    assert per_part == docs.count()


def _tree_vs_flat(docs, specs, fanin):
    """Flat ``profile_aggregate`` blobs, and assert ``tree_merge`` over 32
    input partitions and ``aggregate_skewed`` reproduce them byte-for-byte."""
    from sketchlib.spark.plan import aggregate_skewed, tree_merge
    from sketchlib.spark.sketch_ops import profile_aggregate, profile_partials

    def blobs(df):
        return {(r["lang"], r["sk_name"]): bytes(r["sketch"]) for r in df.collect()}

    flat = blobs(profile_aggregate(docs, ["lang"], specs))
    assert {name for _, name in flat} == {s["name"] for s in specs}
    partials = profile_partials(docs.repartition(32), ["lang"], specs)
    tree = blobs(tree_merge(partials, ["lang"], specs, fanin=fanin))
    skewed = blobs(aggregate_skewed(docs.repartition(32), ["lang"], specs, fanin=fanin))
    for key, blob in flat.items():
        assert tree[key] == blob, key
        assert skewed[key] == blob, key
    assert set(tree) == set(skewed) == set(flat)
    return flat


def test_tree_merge_equals_flat_merge_exact_mode(spark, docs):
    """Exact-mode t-digests (``delta=0.0`` and discrete) through the salted
    tree merge equal the flat ``tdigest_aggregate`` byte-for-byte."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    specs = [
        {"name": "td", "kind": "tdigest", "col": "n_chars", "params": {"delta": 0.0}},
        {"name": "td_disc", "kind": "tdigest", "col": "n_chars",
         "params": {"discrete": True}},
    ]
    flat = _tree_vs_flat(docs, specs, fanin=4)
    want = {
        r["lang"]: bytes(r["digest"])
        for r in tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.0).collect()
    }
    assert {lang: b for (lang, name), b in flat.items() if name == "td"} == want


def test_tree_merge_sketch_byte_equal_families(spark, docs):
    """Salted tree merge == flat merge, byte-for-byte, for every
    byte-canonical sibling family in one spec list (HLL register-max, Bloom
    bit-OR, CMS counter-sum, KMV bottom-k, dd bucket-sum) at fan-in 2 over
    32 input partitions (forces multiple salted levels)."""
    specs = [
        {"name": "hll", "kind": "hll", "col": "doc_id", "params": {"p": 12}},
        {"name": "bloom", "kind": "bloom", "col": "doc_id",
         "params": {"expected_n": 20_000, "fpr": 0.01}},
        {"name": "cms", "kind": "cms", "col": "doc_id", "params": {"width": 2048, "depth": 5}},
        {"name": "kmv", "kind": "kmv", "col": "doc_id", "params": {"k": 256}},
        {"name": "dd", "kind": "dd", "col": "n_chars",
         "params": {"alpha": 0.01, "max_bins": 2048}},
    ]
    _tree_vs_flat(docs, specs, fanin=2)


def test_tree_merge_compressed_within_bound(spark, docs):
    import numpy as np

    import duckdb
    from sketchlib.spark.plan import aggregate_skewed
    from sketchlib.spark.tdigest_ops import tdigest_quantiles_udf

    dig = aggregate_skewed(
        docs.repartition(32), ["lang"],
        [{"name": "td", "kind": "tdigest", "col": "n_chars", "params": {"delta": 0.01}}],
        fanin=4,
    )
    q = tdigest_quantiles_udf([0.5, 0.99])
    rows = dig.withColumn("qs", q("sketch")).collect()
    for r in rows:
        vals = np.sort(
            duckdb.sql(
                f"SELECT CAST(n_chars AS DOUBLE) v FROM "
                f"read_parquet('{SF_MED}/documents.parquet') WHERE lang='{r['lang']}'"
            ).fetchnumpy()["v"]
        )
        for p, est in zip([0.5, 0.99], r["qs"]):
            rank = np.searchsorted(vals, est) / len(vals)
            assert abs(rank - p) < 0.02, (r["lang"], p, rank)


def test_resume_sibling_sketch_byte_identical(spark, docs, tmp_path):
    """The generalized checkpointer: an interrupted HLL build resumes and
    finalizes byte-identically to an uninterrupted one, and the estimate
    tracks the exact distinct count."""
    from sketchlib.hll import HLL
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="doc_id", id_col="doc_id",
        n_parts=8, sketch="hll", params={"p": 12},
    )
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "hclean"), **kw)
    assert clean.run(docs) == 8
    want = _final_digests(clean)

    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "hcrash"), **kw)
    assert ck.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "hcrash"), **kw)
    assert resumed.run(docs) == 5  # only the pending 5
    got = _final_digests(resumed)
    assert got == want

    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n")).collect()}
    for key, blob in got.items():
        est = HLL.deserialize(blob).estimate()
        assert abs(est - exact[key]) / exact[key] < 0.05, (key, est)


def test_resume_dd_byte_identical(spark, docs, tmp_path):
    """DDSketch through the generalized checkpointer: interrupted build
    resumes byte-identically (dd's merge is bitwise order-insensitive, so
    this is an == on blobs), and the resumed sketch's p50 sits at rank
    ~0.5 of the exact per-lang multiset."""
    import numpy as np

    from sketchlib.ddsketch import DDSketch
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=8, sketch="dd", params={"alpha": 0.01, "max_bins": 2048},
    )
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "dclean"), **kw)
    assert clean.run(docs) == 8
    want = _final_digests(clean)

    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "dcrash"), **kw)
    assert ck.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "dcrash"), **kw)
    assert resumed.run(docs) == 5
    assert _final_digests(resumed) == want

    exact = {r["lang"]: np.sort(np.asarray(r["v"], dtype=float)) for r in
             docs.where(F.col("n_chars").isNotNull()).groupBy("lang")
             .agg(F.collect_list("n_chars").alias("v")).collect()}
    for key, blob in want.items():
        d = DDSketch.deserialize(blob)
        vs = exact[key]
        assert d.n == len(vs)
        p50 = float(d.quantile(0.5)[0])
        rank = np.searchsorted(vs, p50, side="right") / len(vs)
        assert abs(rank - 0.5) < 0.03, (key, p50, rank)


def test_resume_rejects_mismatched_lineage(spark, docs, tmp_path):
    """Resuming a checkpoint with different sketch params must fail fast
    instead of mixing incompatible partials."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="doc_id", id_col="doc_id",
              n_parts=4)
    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), sketch="hll",
                             params={"p": 12}, **kw)
    assert ck.run(docs) == 4
    bad = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), sketch="hll",
                              params={"p": 14}, **kw)
    with pytest.raises(ValueError, match="lineage"):
        bad.run(docs)
    worse = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), **kw)
    with pytest.raises(ValueError, match="lineage"):
        worse.finalize_guarded() if hasattr(worse, "finalize_guarded") else worse.run(docs)


def test_checkpoint_orc_format_byte_identical(spark, docs, tmp_path):
    """The checkpoint state is plain rows, so any Spark batch sink works:
    an ORC-backed checkpoint (kill + resume included) must finalize to the
    same bytes as the parquet-backed one."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=8, delta=0.0,
    )
    pq = TDigestCheckpointer(ckpt_path=str(tmp_path / "pq"), **kw)
    assert pq.run(docs) == 8
    want = _final_digests(pq)

    orc = TDigestCheckpointer(ckpt_path=str(tmp_path / "orc"),
                              table_format="orc", **kw)
    assert orc.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "orc"),
                                  table_format="orc", **kw)
    assert resumed.run(docs) == 5
    assert _final_digests(resumed) == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported checkpoint format"):
        TDigestCheckpointer(ckpt_path=str(tmp_path / "x"),
                            table_format="csv", **kw)


def test_choose_salts_collects_only_hot_keys(spark):
    """The row-level salting knob must only bring HOT keys to the driver
    (bounded dict on open key domains); cold keys default to salt 1."""
    from pyspark.sql import functions as F

    from sketchlib.spark.plan import choose_salts_from_counts

    df = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit("hot")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 50).cast("string"))
        ).alias("k")
    )
    salts = choose_salts_from_counts(df, "k", rows_per_salt=1_000)
    assert set(salts) == {"hot"}
    assert salts["hot"] == 9_000 // 1_000 + 1


def test_legacy_lineage_still_resumes(spark, docs, tmp_path):
    """Checkpoints written with the pre-canonicalization lineage spelling
    (params dict repr) must stay resumable after the format change."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="n_chars",
              id_col="doc_id", n_parts=4, sketch="hll", params={"p": 12})
    old = TDigestCheckpointer(ckpt_path=str(tmp_path / "legacy"), **kw)
    legacy = old._lineage_legacy()
    assert legacy != old._lineage()  # the formats genuinely differ
    old._lineage = lambda: legacy  # simulate a pre-change writer
    assert old.run(docs) == 4

    new = TDigestCheckpointer(ckpt_path=str(tmp_path / "legacy"), **kw)
    assert new.completed_parts().count() == 4
    assert new.run(docs) == 0  # nothing recomputed


def test_wrong_checkpoint_format_raises_not_restarts(spark, docs, tmp_path):
    """Resuming an existing parquet checkpoint with table_format='orc' must
    be a hard error — a silent empty completed-set would recompute from
    scratch and append mixed-format files into the same directory."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="n_chars",
              id_col="doc_id", n_parts=4, delta=0.0)
    pq = TDigestCheckpointer(ckpt_path=str(tmp_path / "fmt"), **kw)
    assert pq.run(docs) == 4
    bad = TDigestCheckpointer(ckpt_path=str(tmp_path / "fmt"),
                              table_format="orc", **kw)
    with pytest.raises(ValueError, match="unreadable"):
        bad.completed_parts()


@pytest.fixture(scope="module")
def nully(spark):
    """200 rows: 80 de, 80 en, 40 NULL-lang; every 5th ``item`` NULL."""
    rows = [
        (i, None if i % 5 == 0 else ("de" if i % 2 else "en"),
         float(i % 17), None if i % 5 == 1 else f"u{i % 7}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "id long, lang string, v double, item string")


def test_checkpoint_keeps_null_key_rows(spark, nully, tmp_path):
    """A NULL key is a group of its own in the checkpointer too: per-key
    total weight equals ``tdigest_aggregate``'s, NULL group included."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer
    from sketchlib.spark.tdigest_ops import tdigest_aggregate
    from sketchlib.tdigest.core import MergingDigest

    want = {r["lang"]: MergingDigest.deserialize(bytes(r["digest"])).count
            for r in tdigest_aggregate(nully, ["lang"], "v", discrete=True).collect()}
    assert want == {"de": 80.0, "en": 80.0, None: 40.0}
    ck = TDigestCheckpointer(spark, str(tmp_path / "nk"), ["lang"], "v", "id",
                             n_parts=4, discrete=True)
    assert ck.run(nully) == 4
    got = {r["key"]: MergingDigest.deserialize(bytes(r["digest"])).count
           for r in ck.finalize().collect()}
    assert got == want


def test_checkpoint_hashed_kinds_never_ingest_null(spark, nully, tmp_path):
    """``xxhash64(NULL)`` is the seed, not NULL: the checkpointer must mask
    NULL values like the batch path, so its HLL equals ``sketch_aggregate``'s
    byte for byte."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer
    from sketchlib.spark.sketch_ops import sketch_aggregate

    want = {r["lang"]: bytes(r["sketch"]) for r in
            sketch_aggregate(nully, ["lang"], "item", "hll", {"p": 12}).collect()}
    ck = TDigestCheckpointer(spark, str(tmp_path / "hn"), ["lang"], "item", "id",
                             n_parts=4, sketch="hll", params={"p": 12})
    ck.run(nully)
    got = {r["key"]: bytes(r["digest"]) for r in ck.finalize().collect()}
    assert got == want


def test_checkpoint_mg_ingests_strings(spark, nully, tmp_path):
    """MG reports items back, so the checkpointer must feed it the value as
    a string (a double cast fails on string items), and finalize to the
    batch path's exact counts."""
    from sketchlib.mg import MisraGries
    from sketchlib.spark.checkpoint import TDigestCheckpointer
    from sketchlib.spark.sketch_ops import sketch_aggregate

    def items(blob):
        return dict(MisraGries.deserialize(blob).items())

    want = {r["lang"]: items(bytes(r["sketch"])) for r in
            sketch_aggregate(nully, ["lang"], "item", "mg", {"m": 16}).collect()}
    ck = TDigestCheckpointer(spark, str(tmp_path / "mg"), ["lang"], "item", "id",
                             n_parts=4, sketch="mg", params={"m": 16})
    ck.run(nully)
    got = {r["key"]: items(bytes(r["digest"])) for r in ck.finalize().collect()}
    assert got == want
    assert sum(want["de"].values()) == 60  # 80 rows, 20 NULL items
