"""Registry worlds for the benchmark: state-store seeding, DuckDB oracles and
the canonical snapshot digests every operation is checked against.

Seeding writes each snapshot table straight to ``<store>/<table>/v=0`` with
DuckDB, from the same formulas as the registry's Spark world twins
(``queries_flows._species_world`` / ``_agr_world``) and with their exact
column types. It runs before the Spark session exists, so the first timed
operation of a run is as cold as a CLI invocation on an existing store.

Digests use ``tools/driver_sim.py``'s canonical form (columns sorted by name,
rows sorted, values stringified) over Arrow-read frames, cast to the oracle's
Arrow schema so both sides stringify identically.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HB, RB, MB = 1_000_000, 2_000_000, 3_000_000  # human / rat / mouse rgd-id bases
TS0 = "TIMESTAMPTZ '2020-01-01 00:00:00+00'"

_SPECIES_SEED = {
    "genes": """
        SELECT CAST(rgd_id AS INTEGER) AS rgd_id, gene_symbol, gene_type_lc,
               CAST(NULL AS VARCHAR) AS ensembl_gene_symbol,
               CAST(species_type_key AS INTEGER) AS species_type_key
        FROM genes""",
    "rgd_ids": f"""
        SELECT CAST(rgd_id AS INTEGER) AS rgd_id, object_status,
               CAST(CASE WHEN rgd_id >= {RB} THEN 3 ELSE 1 END AS INTEGER)
                 AS species_type_key,
               CAST(1 AS INTEGER) AS object_key,
               CAST(replaced_by_rgd_id AS INTEGER) AS replaced_by_rgd_id
        FROM rgdids""",
    "xrefs": f"""
        SELECT CAST(CASE WHEN acc_id LIKE 'EGR%' THEN 800000 + CAST(substr(acc_id, 4) AS BIGINT)
                         WHEN rgd_id = {HB} + CAST(substr(acc_id, 4) AS BIGINT)
                           THEN CAST(substr(acc_id, 4) AS BIGINT)
                         ELSE 400000 + CAST(substr(acc_id, 4) AS BIGINT) END AS INTEGER)
                 AS acc_xdb_key,
               CAST(rgd_id AS INTEGER) AS rgd_id, acc_id,
               CAST(3 AS INTEGER) AS xdb_key, 'ENTREZGENE' AS src_pipeline,
               {TS0} AS modification_date
        FROM xr""",
    "orthologs": f"""
        SELECT CAST(genetogene_key AS BIGINT) AS genetogene_key,
               CAST(src_rgd_id AS INTEGER) AS src_rgd_id,
               CAST(dest_rgd_id AS INTEGER) AS dest_rgd_id,
               CAST(src_species_type_key AS INTEGER) AS src_species_type_key,
               CAST(dest_species_type_key AS INTEGER) AS dest_species_type_key,
               CAST(NULL AS INTEGER) AS group_id, xref_data_src, xref_data_set,
               CAST(11 AS INTEGER) AS ortholog_type_key,
               CAST(NULL AS DOUBLE) AS percent_homology,
               CAST(created_by AS INTEGER) AS created_by, {TS0} AS created_date,
               CAST(created_by AS INTEGER) AS last_modified_by,
               {TS0} AS last_modified_date
        FROM seed_orth""",
    "associations": f"""
        SELECT CAST(assoc_key AS BIGINT) AS assoc_key, assoc_type, assoc_subtype,
               CAST(master_rgd_id AS INTEGER) AS master_rgd_id,
               CAST(detail_rgd_id AS INTEGER) AS detail_rgd_id,
               {TS0} AS creation_date, src_pipeline
        FROM seed_assoc""",
    "agr_orthologs": f"""
        SELECT CAST(gene_rgd_id_1 AS INTEGER) AS gene_rgd_id_1,
               CAST(gene_rgd_id_2 AS INTEGER) AS gene_rgd_id_2,
               'stringent' AS confidence, is_best_score, is_best_rev_score,
               methods_matched, {TS0} AS created_date, {TS0} AS last_update_date
        FROM seed_agr""",
}

#: Other-species rows for the weekly re-run: mouse genes, human→mouse strong
#: orthologs and weak associations. A rat run must leave all of them as is.
_MOUSE_ROWS = {
    "genes": f"""
        SELECT CAST({MB} + m AS INTEGER), 'M' || CAST(m AS VARCHAR), 'protein-coding',
               CAST(NULL AS VARCHAR), CAST(2 AS INTEGER)
        FROM range(1, $n + 1) t(m)""",
    "rgd_ids": f"""
        SELECT CAST({MB} + m AS INTEGER), 'ACTIVE', CAST(2 AS INTEGER),
               CAST(1 AS INTEGER), CAST(NULL AS INTEGER)
        FROM range(1, $n + 1) t(m)""",
    "orthologs": f"""
        SELECT CAST(5000000 + m AS BIGINT), CAST({HB} + 1 + m % 1500 AS INTEGER),
               CAST({MB} + m AS INTEGER), CAST(1 AS INTEGER), CAST(2 AS INTEGER),
               CAST(NULL AS INTEGER), CASE WHEN m % 3 = 0 THEN 'NCBI' ELSE 'HGNC' END,
               'Ensembl, OrthoDB', CAST(11 AS INTEGER), CAST(NULL AS DOUBLE),
               CAST(70 AS INTEGER), {TS0}, CAST(70 AS INTEGER), {TS0}
        FROM range(1, $n + 1) t(m)""",
    "associations": f"""
        SELECT CAST(5000000 + m AS BIGINT), 'weak_ortholog', 'OrthoDB',
               CAST({HB} + 1 + (m * 7) % 1500 AS INTEGER), CAST({MB} + m AS INTEGER),
               {TS0}, 'ORTHOLOGS'
        FROM range(1, $n + 1) t(m)""",
}

_AGR_SEED = {
    "genes": f"""
        SELECT CAST({HB} + c AS INTEGER) AS rgd_id, 'HA' || CAST(c AS VARCHAR) AS gene_symbol,
               'protein-coding' AS gene_type_lc, CAST(NULL AS VARCHAR) AS ensembl_gene_symbol,
               CAST(1 AS INTEGER) AS species_type_key FROM hum
        UNION ALL
        SELECT CAST({RB} + p AS INTEGER), 'RA' || CAST(p AS VARCHAR), 'protein-coding',
               CAST(NULL AS VARCHAR), CAST(3 AS INTEGER) FROM rat""",
    "rgd_ids": f"""
        SELECT CAST({HB} + c AS INTEGER) AS rgd_id, 'ACTIVE' AS object_status,
               CAST(1 AS INTEGER) AS species_type_key, CAST(1 AS INTEGER) AS object_key,
               CAST(NULL AS INTEGER) AS replaced_by_rgd_id FROM hum
        UNION ALL
        SELECT CAST({RB} + p AS INTEGER), 'ACTIVE', CAST(3 AS INTEGER),
               CAST(1 AS INTEGER), CAST(NULL AS INTEGER) FROM rat""",
    "xrefs": f"""
        SELECT CAST(c AS INTEGER) AS acc_xdb_key, CAST({HB} + c AS INTEGER) AS rgd_id,
               'AGR:H' || CAST(c AS VARCHAR) AS acc_id, CAST(63 AS INTEGER) AS xdb_key,
               'AGR' AS src_pipeline, {TS0} AS modification_date
        FROM hum WHERE c % 13 != 0
        UNION ALL
        SELECT CAST(800000 + p AS INTEGER), CAST({RB} + p AS INTEGER),
               'AGR:R' || CAST(p AS VARCHAR), CAST(63 AS INTEGER), 'AGR', {TS0}
        FROM rat WHERE p % 17 != 0""",
    "agr_orthologs": f"""
        SELECT CAST({HB} + 1 + (p * 7) % 150 AS INTEGER) AS gene_rgd_id_1,
               CAST({RB} + p AS INTEGER) AS gene_rgd_id_2, 'stringent' AS confidence,
               CASE WHEN p % 6 = 0 THEN 'Y' ELSE 'N' END AS is_best_score,
               'N' AS is_best_rev_score, 'OrthoFinder' AS methods_matched,
               {TS0} AS created_date, {TS0} AS last_update_date
        FROM rat WHERE p <= 400 AND p % 3 = 0""",
}


def connect(tables_dir: str, work_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the generated tables as views (the names the
    registry oracles read)."""
    con = duckdb.connect()
    con.sql(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.sql(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    for t in ("customer", "part", "orders", "documents"):
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _write_version0(con, sql: str, store: str, table: str, params=None) -> None:
    vdir = os.path.join(store, table, "v=0")
    os.makedirs(vdir, exist_ok=True)
    rel = con.execute(sql, params) if params else con.sql(sql)
    pq.write_table(rel.arrow(), os.path.join(vdir, "part-00000.parquet"),
                   compression="snappy")
    with open(os.path.join(store, table, "_CURRENT"), "w") as f:
        f.write("0")


def seed_store(con, flow: str, store: str, mouse_rows: int = 0) -> None:
    """Write version 0 of every world table of ``flow`` into ``store``;
    ``mouse_rows`` adds the other-species rows of the weekly workload."""
    from ortholog_pipeline_spark.queries_flows import _WORLD_SQL

    if flow == "species":
        for t, body in _SPECIES_SEED.items():
            sql = f"WITH {_WORLD_SQL} {body}"
            if mouse_rows and t in _MOUSE_ROWS:
                sql += " UNION ALL " + _MOUSE_ROWS[t]
                _write_version0(con, sql, store, t, {"n": mouse_rows})
            else:
                _write_version0(con, sql, store, t)
    else:
        ctes = ("WITH hum AS (SELECT CAST(c_custkey AS INTEGER) AS c FROM customer), "
                "rat AS (SELECT CAST(p_partkey AS INTEGER) AS p FROM part) ")
        for t, body in _AGR_SEED.items():
            _write_version0(con, ctes + body, store, t)


# ---------------------------------------------------------------------------
# canonical digests
# ---------------------------------------------------------------------------

@functools.cache
def _driver_sim():
    """``tools/driver_sim.py`` loaded by path (``tools`` is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "tools", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(table: pa.Table) -> tuple[int, str]:
    """(rows, value hash) in driver_sim's canonical form."""
    n, _cols, h = _driver_sim()._norm(table.to_pandas())
    return n, h


def oracle(con, name: str) -> pa.Table:
    """The registry's DuckDB oracle ``name`` over the generated tables."""
    from ortholog_pipeline_spark import queries as registry

    return con.sql(registry.oracle_sql()[name]).arrow()


def read_current(store: str, table: str) -> pa.Table:
    """The published snapshot of ``table`` read with Arrow (hive partition
    directories become columns, as in a Spark read)."""
    tdir = os.path.join(store, table)
    with open(os.path.join(tdir, "_CURRENT")) as f:
        v = int(f.read().strip())
    return pq.read_table(os.path.join(tdir, f"v={v}"), partitioning="hive")


def _cols(t: pa.Table, spec: list[tuple[str, object]], schema: pa.Schema) -> pa.Table:
    """Project ``t`` to ``schema``: each entry is a source column name or a
    constant (None = NULL)."""
    n = t.num_rows
    arrays = []
    for (name, src), field in zip(spec, schema):
        if isinstance(src, str) and src in t.column_names:
            arrays.append(t.column(src).cast(field.type))
        else:
            arrays.append(pa.array([src] * n, field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def species_canonical(store: str, schema: pa.Schema, keep=None) -> pa.Table:
    """flow_species_load's canonical output (orthologs ∪ associations, keys
    and timestamps excluded) from the store's current snapshots. ``keep``
    optionally filters rows by a boolean mask function over the result."""
    orth = read_current(store, "orthologs")
    assoc = read_current(store, "associations")
    o = _cols(orth, [
        ("tbl", "orthologs"), ("id_a", "src_rgd_id"), ("id_b", "dest_rgd_id"),
        ("species_a", "src_species_type_key"), ("species_b", "dest_species_type_key"),
        ("src", "xref_data_src"), ("evidence", "xref_data_set"),
        ("owner", "created_by"), ("assoc_type", None),
    ], schema)
    a = _cols(assoc, [
        ("tbl", "associations"), ("id_a", "master_rgd_id"), ("id_b", "detail_rgd_id"),
        ("species_a", None), ("species_b", None), ("src", "src_pipeline"),
        ("evidence", "assoc_subtype"), ("owner", None), ("assoc_type", "assoc_type"),
    ], schema)
    out = pa.concat_tables([o, a])
    return out.filter(keep(out)) if keep is not None else out


def agr_canonical(store: str, schema: pa.Schema, counts: tuple[int, int, int]) -> pa.Table:
    """flow_agr_load's canonical output: the agr_orthologs snapshot in
    curie-label space plus the ins/upd/stale metrics row."""
    agr = read_current(store, "agr_orthologs").to_pandas()
    xr = read_current(store, "xrefs").to_pandas()
    label = dict(zip(xr.loc[xr.xdb_key == 63, "rgd_id"], xr.loc[xr.xdb_key == 63, "acc_id"]))

    def lab(rid):
        return label.get(rid, f"RGD#{rid}")

    rows = {
        "label_1": [lab(r) for r in agr.gene_rgd_id_1],
        "label_2": [lab(r) for r in agr.gene_rgd_id_2],
        "confidence": list(agr.confidence),
        "is_best_score": list(agr.is_best_score),
        "is_best_rev_score": list(agr.is_best_rev_score),
        "methods_matched": list(agr.methods_matched),
    }
    ins, upd, stale = counts
    for k in rows:
        rows[k].append(None)
    rows["label_1"][-1] = "#metrics"
    rows["methods_matched"][-1] = f"ins={ins}|upd={upd}|stale={stale}"
    return pa.table(rows).select(schema.names).cast(schema)


def corpus_oracle(con) -> pa.Table:
    """flow_corpus_prep's oracle, as (doc_id, predicted_lang, text md5)."""
    from ortholog_pipeline_spark import queries as registry

    sql = registry.oracle_sql()["flow_corpus_prep"]
    return con.sql(
        f"SELECT o.doc_id, o.predicted_lang, md5(d.text) AS text_md5 "
        f"FROM ({sql}) o JOIN documents d USING (doc_id)"
    ).arrow()


def corpus_canonical(out_dir: str, schema: pa.Schema) -> pa.Table:
    import hashlib

    kept = pq.read_table(out_dir, columns=["doc_id", "predicted_lang", "text"])
    md5 = [hashlib.md5(t.encode("utf-8")).hexdigest() for t in kept.column("text").to_pylist()]
    return pa.table({
        "doc_id": kept.column("doc_id"),
        "predicted_lang": kept.column("predicted_lang"),
        "text_md5": pa.array(md5, pa.string()),
    }).cast(schema)
