"""Plan-quality regression tests (the perf-pass checks, codified) and
source/sink round-trips."""

from __future__ import annotations

import pytest

from goose_spark.plans.inspect import report
from goose_spark.queries import load_all
from goose_spark.sources import io as gio
from tests.conftest import SF_CORRECT

REGISTRY = load_all()


def test_filter_pushdown_reaches_scan(spark):
    r = report(REGISTRY["q02_filter_conjunctive"].builder(spark, SF_CORRECT))
    pushed = " ".join(r.pushed_filters)
    assert "GreaterThan(l_quantity,30.0)" in pushed
    # Spark truncates long FileScan strings — match the stable prefix
    assert "EqualTo(l_returnfl" in pushed


def test_column_pruning_reaches_scan(spark):
    r = report(REGISTRY["q01_scan_project_limit"].builder(spark, SF_CORRECT))
    cols = r.scanned_columns("lineitem")
    assert cols == ["l_orderkey", "l_linenumber", "l_quantity"]
    assert r.has_take_ordered  # LIMIT + ORDER BY fuse into TakeOrdered


def test_dims_broadcast_in_multiway_join(spark):
    r = report(REGISTRY["q06_multiway_join_agg"].builder(spark, SF_CORRECT))
    # region/nation (explicit hints) + customer-side must broadcast;
    # only the lineitem⋈orders fact join may shuffle
    assert r.broadcast_joins >= 3
    assert r.sort_merge_joins <= 1


def test_q07_aggregates_orders_before_join(spark):
    """q07 must join customer against the per-custkey AGGREGATE of
    orders, not raw orders (round-6 verdict item #2): at 100× scale the
    join then moves |distinct custkeys| rows instead of |orders| rows.
    Proof: the only aggregate is keyed on o_custkey (below the join);
    a join-then-aggregate plan would instead aggregate on c_custkey."""
    r = report(REGISTRY["q07_left_outer_join"].builder(spark, SF_CORRECT))
    assert "HashAggregate(keys=[o_custkey" in r.text, r.text
    assert "HashAggregate(keys=[c_custkey" not in r.text, r.text


def test_topk_per_key_uses_window_group_limit(spark):
    r = report(REGISTRY["q10_window_row_number"].builder(spark, SF_CORRECT))
    assert r.has_window_group_limit


def test_semi_anti_join_no_cartesian(spark):
    r = report(REGISTRY["q08_semi_anti_join"].builder(spark, SF_CORRECT))
    assert "CartesianProduct" not in r.text.replace("BroadcastNestedLoopJoin", "")


def test_exact_dedup_single_shuffle(spark):
    r = report(REGISTRY["dd1_exact_dedup"].builder(spark, SF_CORRECT))
    # one hash shuffle for the groupBy; the final orderBy+limit is TakeOrdered
    assert r.shuffles <= 1
    assert r.has_take_ordered


def test_state_view_prunes_on_partition_key(spark, tmp_path):
    """The ledger state view's row_number window partitions by id, so an
    id predicate must push below the window to the scan."""
    from pyspark.sql import functions as F

    from goose_spark.client import JobClient
    from goose_spark.streaming.ledger import Ledger

    root = str(tmp_path / "ledger")
    client = JobClient(root)
    res = client.perform_async("noop")
    state = Ledger(root).state(spark).filter(F.col("id") == res["id"])
    r = report(state)
    assert any("EqualTo(id," in p for p in r.pushed_filters), r.pushed_filters


def test_promo_share_broadcasts_part(spark):
    r = report(REGISTRY["q41_promo_revenue_share"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 1
    assert r.sort_merge_joins == 0


def test_disjunctive_revenue_single_stage(spark):
    # broadcast join + global agg — no hash/range shuffle anywhere
    r = report(REGISTRY["q43_disjunctive_revenue"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 1
    assert r.shuffles == 0


def test_nation_volume_broadcasts_dims(spark):
    # both nation sides (and at this sf every join) must broadcast
    r = report(REGISTRY["q46_nation_volume_shipping"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 2


def test_token_topk_partial_agg_single_shuffle(spark):
    # explode → partial count → ONE exchange → final count → TakeOrdered
    r = report(REGISTRY["q48_token_topk"].builder(spark, SF_CORRECT))
    assert r.shuffles <= 1
    assert r.has_take_ordered


def test_hash_split_never_reads_text(spark):
    # the md5-bucket split keys on doc_id only — document bodies must be
    # pruned at the scan or the 100 TB pass reads 100 TB for nothing
    r = report(REGISTRY["sp1_hash_split"].builder(spark, SF_CORRECT))
    assert r.scanned_columns("documents") == ["doc_id", "n_chars"]


def test_token_chunking_distributed(spark):
    # two-pass prefix sum: bucket-partitioned window, never a global one.
    # The single-partition exchange (one task holds the corpus) is the
    # plan this test exists to keep dead.
    r = report(REGISTRY["sp3_token_chunking"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert r.shuffles >= 1  # hashpartitioning(pid) — parallel by design
    assert r.has_take_ordered


def test_packed_shards_distributed(spark):
    r = report(REGISTRY["sp4_packed_shards"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0


def test_ntile_percent_rank_distributed(spark):
    # two-pass rank: per-bucket row_number + broadcast offsets — no
    # unpartitioned NTILE/PERCENT_RANK window
    r = report(REGISTRY["q49_ntile_percent_rank"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert r.broadcast_joins >= 1  # the O(buckets) offset map


def test_moment_stats_no_window(spark):
    # one-pass power-sum aggregation; no Window operator in the plan
    r = report(REGISTRY["q50_moment_stats"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert "Window" not in r.text


# --- sources / sinks ---------------------------------------------------------

def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = REGISTRY["q20_distinct_topk"].builder(spark, SF_CORRECT)
    path = str(tmp_path / "out")
    gio.save(df, path, partition_by=None, mode="overwrite")
    back = gio.load(spark, path)
    assert sorted(r["p_type"] for r in back.collect()) == sorted(
        r["p_type"] for r in df.collect()
    )


def test_csv_json_roundtrip(spark, tmp_path):
    from goose_spark.queries.base import t

    src = t(spark, SF_CORRECT, "nation")
    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        gio.save(src, path, fmt=fmt, mode="overwrite")
        back = gio.load(spark, path, fmt=fmt, schema=src.schema)
        assert back.count() == src.count()
        assert sorted(back.columns) == sorted(src.columns)


def test_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from goose_spark.queries.base import t

    src = t(spark, SF_CORRECT, "customer")
    path = str(tmp_path / "part")
    gio.save(src, path, partition_by=["c_mktsegment"], mode="overwrite")
    back = gio.load(spark, path).filter(F.col("c_mktsegment") == "BUILDING")
    r = report(back)
    # partition filter must NOT appear as a data filter — it prunes dirs
    assert "PartitionFilters: [isnotnull(c_mktsegment" in r.text
    assert back.count() == src.filter(F.col("c_mktsegment") == "BUILDING").count()


def test_unsupported_format_rejected(spark):
    with pytest.raises(ValueError):
        gio.load(spark, "/tmp/x", fmt="avro")


def test_stream_load_requires_schema_and_runs(spark, tmp_path):
    from goose_spark.queries.base import t

    src = t(spark, SF_CORRECT, "region")
    path = str(tmp_path / "stream-src")
    src.write.parquet(path)
    stream = gio.load_stream(spark, path, src.schema)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("io_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT count(*) n FROM io_stream").collect()[0]["n"] == src.count()


def test_tfidf_topk_plan(spark):
    """tx5: per-lang top-k runs as WindowGroupLimit over the vocabulary
    aggregate, and the per-lang doc counts broadcast."""
    r = report(REGISTRY["tx5_tfidf_top_terms"].builder(spark, SF_CORRECT))
    assert r.has_window_group_limit
    assert r.broadcast_joins >= 1


def test_retention_cohorts_plan(spark):
    """q52: cohort sizes broadcast; the only large shuffles are the two
    user_id aggregations + the final (cohort × offset) agg."""
    r = report(REGISTRY["q52_retention_cohorts"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 1


def test_events_loader_handles_all_ts_dtypes(spark, tmp_path):
    """Regression guard for the rounds-3/4 breaker: the testdata's
    events.ts dtype has changed across generations (TIMESTAMP(NANOS) →
    timestamp[us]); t() must load all three encodings to TimestampType
    with identical values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from goose_spark.queries.base import t as load

    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    times = [base + datetime.timedelta(minutes=m) for m in range(3)]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([1, 1, 2], pa.int64()),
        "event_type": pa.array(["view", "click", "view"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    variants = {
        "ns-long": pa.array([int(t.timestamp() * 1e9) for t in times], pa.int64())
        .cast(pa.timestamp("ns")),
        "us": pa.array(times, pa.timestamp("us")),
    }
    expected = None
    for name, ts_arr in variants.items():
        d = tmp_path / name
        d.mkdir()
        table = pa.table({**cols, "ts": ts_arr})
        pq.write_table(table, str(d / "events.parquet"))
        df = load(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = sorted(r["ts"] for r in df.select("ts").collect())
        if expected is None:
            expected = got
        assert got == expected, name


def test_market_share_broadcasts_all_dims(spark):
    """q53: part/supplier/nation×2/region all broadcast; only the two
    fact joins (orderkey, custkey) may shuffle."""
    r = report(REGISTRY["q53_market_share"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 4
    assert r.sort_merge_joins <= 2
    assert r.single_partition_exchanges == 0


def test_small_qty_decorrelated_no_cartesian(spark):
    """q54: the correlated AVG is a per-part aggregate joined back — no
    nested-loop/cartesian anywhere, brand filter broadcasts."""
    r = report(REGISTRY["q54_small_qty_revenue"].builder(spark, SF_CORRECT))
    assert "CartesianProduct" not in r.text
    assert r.broadcast_joins >= 1


def test_waiting_suppliers_distributed(spark):
    """q55: decorrelated semi+anti via one per-order aggregate; nation-
    filtered supplier dim broadcasts; no single-task stage."""
    r = report(REGISTRY["q55_waiting_suppliers"].builder(spark, SF_CORRECT))
    assert r.broadcast_joins >= 1
    assert r.single_partition_exchanges == 0
    assert "CartesianProduct" not in r.text


def test_sales_opportunity_anti_join(spark):
    """q56: the NOT EXISTS must be a real anti join with the date filter
    pushed to the orders scan."""
    r = report(REGISTRY["q56_sales_opportunity"].builder(spark, SF_CORRECT))
    assert "LeftAnti" in r.text
    assert any("o_orderdate" in p for p in r.pushed_filters), r.pushed_filters


def test_sliding_window_no_window_operator(spark):
    """q57: hop windows expand+hash-agg — no sort-based Window operator,
    no single-partition exchange."""
    r = report(REGISTRY["q57_sliding_window"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    # one hash-agg exchange + the final output-order range exchange
    assert r.shuffles <= 2


def test_repetition_filter_shuffle_free(spark):
    """tx6: per-doc Counter pass — zero shuffles before the final
    TakeOrdered; the 100 TB plan is a pure map over the scan."""
    r = report(REGISTRY["tx6_repetition_filter"].builder(spark, SF_CORRECT))
    assert r.shuffles == 0
    assert r.has_take_ordered


def test_label_centroids_partial_agg(spark):
    """ss4: posexplode fan-out collapses map-side — at most the two
    hash-agg exchanges ((label,dim) then label), no single-task stage."""
    r = report(REGISTRY["ss4_label_centroids"].builder(spark, SF_CORRECT))
    # (label,dim) agg + label agg + the final output-order range exchange
    assert r.shuffles <= 3
    assert r.single_partition_exchanges == 0


def test_quality_sample_single_shuffle(spark):
    """sp5: codegen expressions + one tiny 3-bucket agg."""
    r = report(REGISTRY["sp5_quality_weighted_sample"].builder(spark, SF_CORRECT))
    # the 3-bucket agg exchange + the final output-order range exchange
    assert r.shuffles <= 2
    assert "Python" not in r.text  # no UDF — pure built-in expressions


def test_decontaminate_plan(spark):
    # benchmark grams broadcast; no single-task stage anywhere
    r = report(REGISTRY["sp6_decontaminate"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert r.broadcast_joins >= 1


def test_mixture_sample_never_shuffles_doc_bodies(spark):
    # the heavy work runs eagerly inside the builder as two O(langs)
    # driver round-trips (counts, then sampled counts) whose scans read
    # only (doc_id, lang); the returned frame is the 5-row assembly
    from pyspark.sql import functions as F

    from goose_spark.queries.base import t

    r = report(REGISTRY["sp7_mixture_sample"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert "FileScan" not in r.text
    inner = report(
        t(spark, SF_CORRECT, "documents")
        .select("doc_id", "lang")
        .groupBy("lang")
        .agg(F.count("*"))
    )
    # Catalyst prunes the count scan all the way down to lang alone
    assert any("lang" in s and "text" not in s for s in inner.read_schemas)


def test_pii_scrub_map_only_plus_audit_agg(spark):
    r = report(REGISTRY["tx8_pii_scrub"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    # the per-lang audit agg + the O(langs)-row final orderBy; the scrub
    # itself is map-only
    assert r.shuffles <= 2
    assert "Window" not in r.text


def test_epoch_shuffle_no_global_sort(spark):
    r = report(REGISTRY["sp8_epoch_shuffle"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges == 0
    assert "Window" not in r.text


def test_lm_surprisal_plan(spark):
    r = report(REGISTRY["tx9_lm_surprisal"].builder(spark, SF_CORRECT))
    # one SinglePartition is the corpus-total scalar agg — its input is
    # O(partitions) partial sums, not data, so it is scale-safe
    assert r.single_partition_exchanges <= 1
    assert r.has_take_ordered


def test_customer_distribution_filter_pushdown(spark):
    r = report(REGISTRY["q58_customer_distribution"].builder(spark, SF_CORRECT))
    pushed = " ".join(r.pushed_filters)
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in pushed
    assert r.single_partition_exchanges == 0


def test_product_profit_broadcasts_filtered_dims(spark):
    r = report(REGISTRY["q59_product_type_profit"].builder(spark, SF_CORRECT))
    pushed = " ".join(r.pushed_filters)
    assert "StringContains(p_name,red)" in pushed
    assert r.broadcast_joins >= 2


def test_order_priority_semi_join_pushdown(spark):
    r = report(REGISTRY["q60_order_priority_check"].builder(spark, SF_CORRECT))
    pushed = " ".join(r.pushed_filters)
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "LeftSemi" in r.text
    assert "CartesianProduct" not in r.text


def test_window_dedup_single_shuffle(spark):
    r = report(REGISTRY["q66_window_dedup"].builder(spark, SF_CORRECT))
    assert r.single_partition_exchanges <= 1  # final scalar agg only
    assert r.shuffles >= 1  # (user,type,bucket) exchange


def test_unpivot_single_scan(spark):
    # stack() emits 4 rows per input from ONE scan (the UNION-ALL oracle
    # form would scan lineitem four times)
    r = report(REGISTRY["q70_measures_unpivot"].builder(spark, SF_CORRECT))
    assert r.text.count("FileScan") == 1


def test_activity_islands_shares_user_exchange(spark):
    r = report(REGISTRY["q69_activity_islands"].builder(spark, SF_CORRECT))
    # window + run agg both key on user_id; no unpartitioned window
    assert "Window" in r.text
    assert r.single_partition_exchanges <= 1  # the final scalar summary


def test_jsonl_quarantine_splits_good_bad(spark, tmp_path):
    """Ingestion front door: malformed JSON lines land in quarantine
    as 'unparseable', parsed rows missing a required field land as
    'missing:<field>', and not one input line is silently dropped."""
    from pyspark.sql import types as T

    from goose_spark.sources.io import load_jsonl_quarantined

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "bravo"}\n'
        '{"doc_id": 3 "text": "broken syntax"}\n'            # unparseable
        '{"doc_id": 4, "source": "crawl9"}\n'                # missing text
        '\n'                                                  # blank: not data
        '{"doc_id": 5, "text": "charlie"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = load_jsonl_quarantined(spark, str(p), schema)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 5]
    q = {(r["reason"]): r["raw"] for r in bad.collect()}
    assert set(q) == {"unparseable", "missing:text"}
    assert "broken syntax" in q["unparseable"]
    # the quarantined raw is the ORIGINAL line — extra fields outside
    # the declared schema survive for replay after a contract fix
    assert '"source": "crawl9"' in q["missing:text"]
    assert good.count() + bad.count() == 5  # blank line is not data


def test_plans_md_single_partitions_all_annotated():
    """Registry-wide invariant (VERDICT r12 directive #5): every
    Exchange SinglePartition in the committed plan audit must carry the
    `(agg)` boundedness annotation — either a scalar aggregate funnel or
    a gen_plan_audit.BOUNDED_SINGLE entry with a written O(1) bound.
    PLANS.md cannot silently grow an unannotated single-partition
    exchange (the at-scale anti-pattern)."""
    import re

    rows = []
    with open("/root/repo/PLANS.md") as fh:
        for line in fh:
            m = re.match(r"^\|\s*`([^`]+)`\s*\|", line)
            if m:
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                rows.append((m.group(1), cells))
    assert len(rows) >= 150  # the full inventory is tabled
    offenders = []
    for name, cells in rows:
        single = cells[4] if len(cells) > 4 else ""
        if single in ("0", "—", ""):
            continue
        if not single.endswith("(agg)"):
            offenders.append((name, single))
    assert offenders == [], offenders


def test_tx24_calibration_single_scan(spark):
    """VERDICT r13 directive #2: the corpus totals (nd, nt) must fold
    into the grid aggregate — each threshold group holds every doc
    exactly once, so count(*)/sum(n_toks) per group ARE the totals —
    instead of a second documents pass."""
    r = report(REGISTRY["tx24_filter_calibration"].builder(spark, SF_CORRECT))
    assert r.text.count("FileScan") == 1


def test_sp17_prunes_increment_free_blocks(spark):
    """sp17's scale claim: blocks with no increment doc are eliminated
    by a broadcast semi-join on the block key before shingle rows move."""
    r = report(REGISTRY["sp17_incremental_dedup"].builder(spark, SF_CORRECT))
    assert "LeftSemi" in r.text
    assert "BroadcastHashJoin" in r.text or "BroadcastExchange" in r.text
    assert "CartesianProduct" not in r.text


def test_qg1_bfs_layers_are_min_hops(spark):
    """qg1: seed rows carry hop 0, every hop is within the depth bound,
    and a node's hop equals its FIRST reachable layer (the anti-join
    guarantees no node is relabeled by a later round)."""
    rows = {r["node"]: r["hops"]
            for r in REGISTRY["qg1_reachability_bfs"]
            .builder(spark, SF_CORRECT).collect()}
    assert rows, "BFS returned nothing"
    assert all(0 <= h <= 3 for h in rows.values())
    seeds = [n for n, h in rows.items() if h == 0]
    assert seeds and all(n % 1000 == 0 for n in seeds)


def test_qg2_predicts_only_non_edges(spark):
    """qg2's defining property: every predicted link is an OPEN wedge —
    the (a, b) pair must NOT be an existing co-purchase edge — and the
    per-node WindowGroupLimit keeps at most the declared top-k."""
    from goose_spark.operators.clusters import _QG2_TOP_K
    from goose_spark.queries.base import t as _t

    df = REGISTRY["qg2_link_prediction"].builder(spark, SF_CORRECT)
    r = report(df)
    assert "WindowGroupLimit" in r.text, "top-k must prune pre-shuffle"
    assert "CartesianProduct" not in r.text
    rows = df.collect()
    assert rows, "no predicted links"
    li = _t(spark, SF_CORRECT, "lineitem")
    edges = {
        (x["a"], x["b"])
        for x in li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .selectExpr("x.l_partkey AS a", "y.l_partkey AS b")
        .where("a < b")
        .distinct()
        .collect()
    }
    per_node: dict = {}
    for x in rows:
        assert (x["a"], x["b"]) not in edges, "predicted an existing edge"
        per_node.setdefault(x["a"], []).append(x["rk"])
    assert all(
        sorted(v) == list(range(1, len(v) + 1)) and len(v) <= _QG2_TOP_K
        for v in per_node.values()
    )


def test_mm4_ahash_groups_are_exact_byte_duplicates_of_prefix(spark):
    """mm4: the signature is a pure function of the first 32 payload
    bytes — two docs with identical prefixes MUST share a hash (numpy
    cross-check), and the dedup output only reports groups >= 2."""
    import numpy as np

    from goose_spark.queries.base import t as _t

    docs = {
        r["doc_id"]: r["text"]
        for r in _t(spark, SF_CORRECT, "documents")
        .select("doc_id", "text").collect()
    }

    def ref_hash(s: str) -> int:
        b = np.frombuffer(s.encode()[:32], dtype=np.uint8).astype(np.int64)
        return int(((b * 32 > b.sum()).astype(np.int64) << np.arange(32)).sum())

    out = REGISTRY["mm4_phash_dedup"].builder(spark, SF_CORRECT).collect()
    assert out and all(r["n_docs"] >= 2 for r in out)
    groups: dict = {}
    for did, txt in docs.items():
        groups.setdefault(ref_hash(txt), []).append(did)
    expect = {h: v for h, v in groups.items() if len(v) >= 2}
    assert {r["ahash"]: (r["n_docs"], r["keeper"]) for r in out} == {
        h: (len(v), min(v)) for h, v in expect.items()
    }


def test_sp18_allocation_conserves_budget_and_caps(spark):
    """sp18 invariants: every epochs value is within (0, cap]; capped
    domains sit exactly at cap; total allocated tokens never exceeds
    the budget; and at least one domain is capped AND one uncapped on
    this corpus (the water-fill branch is exercised, not dead code)."""
    from goose_spark.operators.pipeline import (
        _SP18_BUDGET_EPOCHS,
        _SP18_MAX_EPOCHS,
    )

    rows = REGISTRY["sp18_epoch_allocation"].builder(spark, SF_CORRECT).collect()
    assert rows
    total_tok = sum(r["n_tok"] for r in rows)
    budget = _SP18_BUDGET_EPOCHS * total_tok
    assert sum(r["alloc_tokens"] for r in rows) <= budget + 1e-6
    assert any(r["capped"] for r in rows)
    assert any(not r["capped"] for r in rows)
    for r in rows:
        assert 0 < r["epochs"] <= _SP18_MAX_EPOCHS + 1e-9
        if r["capped"]:
            assert abs(r["epochs"] - _SP18_MAX_EPOCHS) < 1e-9
