"""Traced run: the real flow inside one span, then a staged replay of each
layer's public functions, one span each, and the per-layer metrics.

In the replay every layer reads a materialized input (checkpointed and
counted outside the span) and writes its output to Spark's noop sink, so a span's
time and event-log counters belong to that layer alone. Layers a workload's
flow does not run report 0.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import flows, trace

KEY = ["src_rgd_id", "dest_species_type_key"]
ASSOC_KEY = ["master_rgd_id", "detail_rgd_id", "assoc_type", "src_pipeline"]
AGR_KEY = ["gene_rgd_id_1", "gene_rgd_id_2", "methods_matched"]
AGR_CONTENT = ["confidence", "is_best_score", "is_best_rev_score"]

#: every per-layer metric and its unit; the traced run reports all of them
METRICS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "files.scan_s": "s", "files.lines_scanned": "count", "files.keep_ratio": "ratio",
    "files.scan_tasks": "count", "files.executor_s": "s",
    "resolve.busy_s": "s", "resolve.resolved_ratio": "ratio", "resolve.shuffle_mb": "MB",
    "grouping.busy_s": "s", "grouping.merge_ratio": "ratio",
    "grouping.shuffle_mb": "MB", "grouping.spill_mb": "MB",
    "bestfit.busy_s": "s", "bestfit.keys": "count",
    "bestfit.shuffle_mb": "MB", "bestfit.spill_mb": "MB",
    "sync.busy_s": "s", "sync.rows_in": "count", "sync.change_ratio": "ratio",
    "state.commit_s": "s", "state.keygen_s": "s", "state.rows_written": "count",
    "state.files_written": "count", "state.write_amplification": "ratio",
    "state.seed_s": "s",
    "plan.jobs": "count", "plan.stages": "count", "plan.tasks": "count",
    "plan.executor_s": "s", "plan.core_util": "ratio", "plan.driver_gap_s": "s",
    "plan.shuffle_mb": "MB", "plan.spill_mb": "MB",
    "text.annotate_s": "s",
    "dedup.busy_s": "s", "dedup.candidate_pairs": "count", "dedup.pair_yield": "ratio",
    "dedup.shuffle_mb": "MB",
    "trace.overhead_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mat(df):
    """Materialize ``df`` as a lineage-free input (so a span does not pay
    for planning the frame's history) and count it."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _verdict_counts(v) -> dict[str, int]:
    return {r["sync_verdict"]: r["count"] for r in v.groupBy("sync_verdict").count().collect()}


def _commit(store, rec, table: str, out: dict, changed: int, **changes) -> None:
    """One ``StateStore.apply_changes`` in the ``sources.state.commit`` span;
    rows and files written are read from the new version's data files."""
    before = flows.inodes(store.root)
    with rec.span("sources.state.commit"):
        store.apply_changes(table, **changes)
    _bytes, paths = flows.new_files(store.root, before)
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    out["state.rows_written"] = rows
    out["state.files_written"] = len(paths)
    out["state.write_amplification"] = rows / max(1, changed)


def _species(spark, rec, wl, res, store, out: dict) -> None:
    from ortholog_pipeline_spark.__main__ import _species_relations
    from ortholog_pipeline_spark.operators import bestfit, grouping, resolve, sync
    from ortholog_pipeline_spark.schemas import PIPELINE_USER_ID
    from ortholog_pipeline_spark.sources.state import next_surrogate_keys

    genes, rgd_ids, xrefs, orthologs, associations = (
        store.read(t) for t in ("genes", "rgd_ids", "xrefs", "orthologs", "associations"))
    with rec.span("sources.files"):
        _noop(_species_relations(spark, wl.landing, "rat"))
    rel, n_rel = _mat(_species_relations(spark, wl.landing, "rat"))
    out["files.keep_ratio"] = n_rel / wl.counts["lines"]

    dim, _ = _mat(resolve.build_resolution_dim(xrefs, genes, rgd_ids))
    with rec.span("operators.resolve"):
        clean, _dropped = resolve.split_resolved(resolve.resolve_relations(rel, dim))
        _noop(clean)
    clean, n_clean = _mat(clean)
    out["resolve.resolved_ratio"] = n_clean / max(1, n_rel)

    with rec.span("operators.grouping"):
        closed = grouping.complement_closure(grouping.merge_duplicate_relations(clean))
        _noop(closed)
    n_merged = grouping.merge_duplicate_relations(clean).count()
    out["grouping.merge_ratio"] = n_merged / max(1, n_clean)
    closed, _ = _mat(closed)

    sym = genes.select("rgd_id", "gene_symbol")
    with_syms, _ = _mat(
        closed.join(F.broadcast(sym.withColumnsRenamed(
            {"rgd_id": "src_rgd_id", "gene_symbol": "src_gene_symbol"})), "src_rgd_id", "left")
        .join(F.broadcast(sym.withColumnsRenamed(
            {"rgd_id": "dest_rgd_id", "gene_symbol": "dest_gene_symbol"})), "dest_rgd_id", "left")
    )
    with rec.span("operators.bestfit"):
        picks = bestfit.best_fit(with_syms, KEY + ["data_source"])
        _noop(picks)
    out["bestfit.keys"] = picks.count()

    weak, n_weak = _mat(
        closed.select(F.col("src_rgd_id").alias("master_rgd_id"),
                      F.col("dest_rgd_id").alias("detail_rgd_id"),
                      F.col("data_set_name").alias("assoc_subtype"))
        .groupBy("master_rgd_id", "detail_rgd_id")
        .agg(F.min("assoc_subtype").alias("assoc_subtype"))
        .withColumn("assoc_type", F.lit("weak_ortholog"))
        .withColumn("src_pipeline", F.lit("ORTHOLOGS"))
    )
    existing, n_existing = _mat(associations.filter(F.col("assoc_type") == "weak_ortholog"))
    with rec.span("operators.sync"):
        v = sync.sync_full_outer(weak, existing, ASSOC_KEY, ["assoc_subtype"])
        _noop(v)
    vc = _verdict_counts(v)
    out["sync.rows_in"] = n_weak + n_existing
    out["sync.change_ratio"] = (
        vc.get(sync.INSERT, 0) + vc.get(sync.UPDATE, 0) + vc.get(sync.DELETE, 0)
    ) / max(1, n_weak + n_existing)

    max_key = orthologs.agg(F.max("genetogene_key")).collect()[0][0] or 0
    ins_raw, _ = _mat(res.inserted.drop("genetogene_key"))
    with rec.span("sources.state.keygen"):
        _noop(next_surrogate_keys(ins_raw, max_key, "genetogene_key"))

    inserts, n_ins = _mat(res.inserted)
    deletes, n_del = _mat(res.deleted)
    matched = res.verdicts.filter(F.col("verdict") == "MATCH").select(
        F.col("ex_key").alias("genetogene_key"))
    touched, n_upd = _mat(sync.touch_last_modified(
        orthologs, matched, ["genetogene_key"], wl.run_ts, PIPELINE_USER_ID))
    _commit(store, rec, "orthologs", out, n_ins + n_del + n_upd,
            inserts=inserts, deletes=deletes, delete_key=["genetogene_key"],
            updates=touched, update_key=["genetogene_key"],
            partition_by=["dest_species_type_key"])


def _agr(spark, rec, wl, res, store, traced_store: str, out: dict) -> None:
    from ortholog_pipeline_spark.__main__ import _latest_landing
    from ortholog_pipeline_spark.operators import sync
    from ortholog_pipeline_spark.sources import files as src
    from ortholog_pipeline_spark.sources.state import StateStore, next_surrogate_keys

    agr_dir = _latest_landing(wl.landing, "agr")
    with rec.span("sources.files"):
        _noop(src.read_agr_tsv(spark, agr_dir))
    out["files.keep_ratio"] = src.read_agr_tsv(spark, agr_dir).count() / wl.counts["lines"]

    # the flow's S12 merge input, rebuilt from its resolved lines
    incoming, n_inc = _mat(
        res.resolved.select(
            F.col("rgd_id_1").alias("gene_rgd_id_1"), F.col("rgd_id_2").alias("gene_rgd_id_2"),
            F.lit("stringent").alias("confidence"), "is_best_score", "is_best_rev_score",
            "methods_matched")
        .groupBy(*AGR_KEY)
        .agg(F.min("confidence").alias("confidence"),
             F.max("is_best_score").alias("is_best_score"),
             F.max("is_best_rev_score").alias("is_best_rev_score"))
    )
    agr, n_agr = _mat(store.read("agr_orthologs"))
    with rec.span("operators.sync"):
        v = sync.sync_full_outer(incoming, agr, AGR_KEY, AGR_CONTENT)
        _noop(v)
    v, _ = _mat(v)
    vc = _verdict_counts(v)
    out["sync.rows_in"] = n_inc + n_agr
    out["sync.change_ratio"] = (
        vc.get(sync.INSERT, 0) + vc.get(sync.UPDATE, 0) + vc.get(sync.DELETE, 0)
    ) / max(1, n_inc + n_agr)

    # keygen input: the genes the traced flow minted (ids above the seed's max)
    hw = store.read("rgd_ids").agg(F.max("rgd_id")).collect()[0][0] or 0
    minted, _ = _mat(StateStore(spark, traced_store).read("genes")
                     .filter(F.col("rgd_id") > hw).drop("rgd_id"))
    with rec.span("sources.state.keygen"):
        _noop(next_surrogate_keys(minted, hw, "rgd_id"))

    ts = F.lit(wl.run_ts)
    inserts = (v.filter(F.col("sync_verdict") == sync.INSERT)
               .select(*AGR_KEY, *AGR_CONTENT)
               .withColumn("created_date", ts).withColumn("last_update_date", ts)
               .select(*agr.columns))
    updates = (v.filter(F.col("sync_verdict").isin(sync.MATCH, sync.UPDATE))
               .select(*AGR_KEY, *AGR_CONTENT)
               .join(agr.select(*AGR_KEY, "created_date"), AGR_KEY)
               .withColumn("last_update_date", ts).select(*agr.columns))
    deletes = v.filter(F.col("sync_verdict") == sync.DELETE).select(*AGR_KEY)
    changed = sum(vc.get(k, 0) for k in (sync.INSERT, sync.UPDATE, sync.DELETE))
    _commit(store, rec, "agr_orthologs", out, changed,
            inserts=inserts, deletes=deletes, delete_key=AGR_KEY,
            updates=updates, update_key=AGR_KEY)


def _corpus(spark, rec, wl, res, out: dict) -> None:
    from ortholog_pipeline_spark.__main__ import _latest_landing
    from ortholog_pipeline_spark.functions import text as TXT
    from ortholog_pipeline_spark.operators import dedup as DD
    from ortholog_pipeline_spark.sources import files as src

    corpus_dir = _latest_landing(wl.landing, "corpus")
    with rec.span("sources.files"):
        _noop(src.read_jsonl_documents(spark, corpus_dir)[0])
    docs, n_docs = _mat(src.read_jsonl_documents(spark, corpus_dir)[0])
    out["files.keep_ratio"] = n_docs / wl.counts["lines"]

    with rec.span("functions.text"):
        _noop(docs.select("doc_id", TXT.lang_id("text").alias("predicted_lang"),
                          TXT.quality_score("text").alias("quality"),
                          TXT.fingerprint("text").alias("fp")))

    # near-dedup input = the flow's stage-3 survivors (kept ∪ dropped_near)
    s3, _ = _mat(res.kept.select("doc_id", "text")
                 .unionByName(res.dropped_near.select("doc_id", "text")))
    with rec.span("operators.dedup"):
        pairs = DD.minhash_lsh_dedup(s3, threshold=0.5)
        _noop(pairs)
    n_pairs = pairs.count()
    n_cand = DD.lsh_candidate_pairs(
        DD.shingle_sig_frame(s3, "text", "doc_id", 16, k=3), "doc_id", "sig", 4, 4
    ).count()
    out["dedup.candidate_pairs"] = n_cand
    out["dedup.pair_yield"] = n_pairs / max(1, n_cand)


def traced(spark, wl, rec, work: str) -> dict:
    """Run the flow once in a ``plans.<flow>`` span, then the staged replay.
    Returns the counts measured outside spans (event-log counters are added
    by :func:`metrics` once the session has stopped) and the traced flow's
    check result (None when its output is correct)."""
    flow_span = {"species": "plans.species_load", "agr": "plans.agr_load",
                 "corpus": "plans.corpus_prep"}[wl.flow]
    target = wl.target()
    if wl.flow != "corpus":
        # the replay runs against the store as the traced flow found it
        replay_root = os.path.join(work, "replay_store")
        shutil.rmtree(replay_root, ignore_errors=True)
        flows.clone(target, replay_root)
    with rec.span(flow_span):
        res = wl.run(spark, target)
    reason = wl.check(target, res)
    out = {"_flow_span": flow_span}
    if wl.flow == "corpus":
        _corpus(spark, rec, wl, res, out)
    else:
        from ortholog_pipeline_spark.sources.state import StateStore

        store = StateStore(spark, replay_root)
        if wl.flow == "species":
            _species(spark, rec, wl, res, store, out)
        else:
            _agr(spark, rec, wl, res, store, target, out)
    spark.catalog.clearCache()
    return out, reason


def metrics(out: dict, rec, event_log_dir: str, cores: int, *, start_s: float,
            peak_rss: float, seed_s: float, run_s: float, lines: int) -> dict:
    """Every per-layer metric, from the replay counts and the event log."""
    groups = trace.parse_event_log(trace.find_event_log(event_log_dir))

    def span(name):
        s = rec.get(name)
        return trace.span_counters(s, groups, rec.spans) if s else None

    m = {k: 0.0 for k in METRICS}
    m.update({k: v for k, v in out.items() if k in METRICS})
    m["session.start_s"] = start_s
    m["session.peak_rss_mb"] = peak_rss
    m["state.seed_s"] = seed_s
    m["files.lines_scanned"] = lines
    plan = span(out["_flow_span"])
    m["plan.jobs"], m["plan.stages"], m["plan.tasks"] = plan["jobs"], plan["stages"], plan["tasks"]
    m["plan.executor_s"] = plan["executor_s"]
    m["plan.core_util"] = plan["executor_s"] / (plan["wall_s"] * cores)
    m["plan.driver_gap_s"] = plan["driver_gap_s"]
    m["plan.shuffle_mb"], m["plan.spill_mb"] = plan["shuffle_mb"], plan["spill_mb"]
    m["trace.overhead_s"] = plan["wall_s"] - run_s

    files = span("sources.files")
    m["files.scan_s"], m["files.scan_tasks"] = files["wall_s"], files["tasks"]
    m["files.executor_s"] = files["executor_s"]
    for layer, name in (("resolve", "operators.resolve"), ("grouping", "operators.grouping"),
                        ("bestfit", "operators.bestfit"), ("sync", "operators.sync"),
                        ("dedup", "operators.dedup")):
        c = span(name)
        if c is None:
            continue
        m[f"{layer}.busy_s"] = c["wall_s"]
        for k in ("shuffle_mb", "spill_mb"):
            if f"{layer}.{k}" in m:
                m[f"{layer}.{k}"] = c[k]
    for metric, name in (("state.commit_s", "sources.state.commit"),
                         ("state.keygen_s", "sources.state.keygen"),
                         ("text.annotate_s", "functions.text")):
        c = span(name)
        if c is not None:
            m[metric] = c["wall_s"]
    return {k: {"value": float(v), "unit": METRICS[k]} for k, v in m.items()}

