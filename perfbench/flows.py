"""One benchmark operation per workload, run the way the CLI runs it
(``ortholog_pipeline_spark.__main__.main``): read the landed files with the
``sources.files`` readers, run the ``plans.*`` flow, commit the state-store
snapshot (or, for the corpus, write the cleaned documents to parquet).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from ortholog_pipeline_spark.__main__ import _latest_landing, _species_relations
from ortholog_pipeline_spark.plans import run_agr_load, run_species_load
from ortholog_pipeline_spark.plans.corpus_prep import run_corpus_prep
from ortholog_pipeline_spark.schemas import SPECIES
from ortholog_pipeline_spark.sources import files as src
from ortholog_pipeline_spark.sources.state import StateStore

#: The registry worlds plant far more churn than the reference's 10% cap
#: (flow_species_load uses 95, flow_agr_load 100); the CLI flag passes these.
SPECIES_DELETE_PCT = 95.0
AGR_DELETE_PCT = 100.0


def species_load(spark, store_dir: str, landing: str):
    """``--species rat --skip-freshness-gate``: HCOP ∪ NCBI scan, parse
    sanity floor, §3.1 flow, run-grain snapshot commit."""
    store = StateStore(spark, store_dir)
    rel = _species_relations(spark, landing, "rat")
    src.check_sanity_floor(rel)
    return run_species_load(
        store, rel, dt.datetime.now(), SPECIES["rat"][0],
        delete_threshold_pct=SPECIES_DELETE_PCT,
    )


def agr_load(spark, store_dir: str, landing: str):
    """``--agr-orthologs``: Alliance TSV scan, §3.2 flow, run commit."""
    store = StateStore(spark, store_dir)
    lines = src.read_agr_tsv(spark, _latest_landing(landing, "agr"))
    return run_agr_load(store, lines, dt.datetime.now(),
                        delete_threshold_pct=AGR_DELETE_PCT)


def corpus_prep(spark, out_dir: str, landing: str):
    """JSONL corpus scan, corpus-prep flow, cleaned corpus written to parquet."""
    docs, _corrupt = src.read_jsonl_documents(spark, _latest_landing(landing, "corpus"))
    res = run_corpus_prep(docs, min_quality=0.35)
    res.kept.write.mode("overwrite").parquet(out_dir)
    return res


def new_files(root: str, before: set[int]) -> tuple[int, list[str]]:
    """Bytes and paths of data files under ``root`` whose inode is not in
    ``before`` — what one operation wrote (hardlinked carry-over files of an
    append commit are not writes)."""
    total, paths = 0, []
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            if st.st_ino not in before:
                total += st.st_size
                paths.append(p)
    return total, paths


def inodes(root: str) -> set[int]:
    out = set()
    for d, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.stat(os.path.join(d, f)).st_ino)
    return out


def clone(source: str, dst: str) -> str:
    """Hardlink copy of a store (snapshot files are immutable)."""
    for d, _dirs, files in os.walk(source):
        rel = os.path.relpath(d, source)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f == "_CURRENT":
                shutil.copy(os.path.join(d, f), os.path.join(out, f))
            else:
                os.link(os.path.join(d, f), os.path.join(out, f))
    return dst
