"""Seeded input generator for the landing-to-snapshot benchmark.

Writes, under one output directory:

  tables/{customer,part,orders,documents}.parquet
      TPC-H-shaped key tables. The registry's world derivation
      (``queries_flows._species_world`` / ``_agr_world``) and its DuckDB
      oracles read exactly these names and key columns. Keys of block ``b``
      are offset by ``b * 10M`` like ``tools/make_scaled_dir.py`` replicas, so
      each block brings its own 199-gene rat destination pool.
  landing/<source>/dt=<date>/<file>.gz
      One gzip file per source, in the layout ``sources/download.py`` lands:
      HCOP (16 columns, no header), NCBI gene_orthologs (5 columns, ``#``
      header), the Alliance TSV (``#`` comments, then a header line) and a
      JSONL corpus. Every file also carries rows the scan filters discard
      (other species, other taxa, corrupt JSON lines).

Everything is a pure function of (spec, seed): gzip members carry mtime 0 and
parquet files are written from Arrow arrays with fixed settings, so the same
seed gives byte-identical files.
"""

from __future__ import annotations

import gzip
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BLK = 10_000_000  # key offset per replica block (queries_flows.BLK)
LANDING_DATE = "2024-01-01"
RAT_TAX, HUMAN_TAX, MOUSE_TAX, DOG_TAX = "10116", "9606", "10090", "9615"

#: evidence vocabulary of the species world (queries_flows, o_orderkey % 5)
_EVIDENCE = (
    "Ensembl",
    "OrthoDB",
    "Ensembl, OrthoDB",
    "Panther",
    "Ensembl, Panther, TreeFam",
)


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _write_gz(path: str, lines) -> int:
    """Write text lines as one gzip member with a zeroed header mtime."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
    ) as gz:
        for line in lines:
            gz.write(line.encode("utf-8"))
            gz.write(b"\n")
            n += 1
    return n


def landing_file(root: str, source: str, name: str) -> str:
    return os.path.join(root, "landing", source, f"dt={LANDING_DATE}", name)


# ---------------------------------------------------------------------------
# TPC-H-shaped key tables
# ---------------------------------------------------------------------------

def key_tables(root: str, rng: random.Random, blocks: int, customers: int,
               parts: int, orders: int) -> dict[str, int]:
    """customer / part / orders with dense keys per block; each order's
    customer is drawn uniformly from its own block (the seeded part)."""
    c_key, c_name, c_nation = [], [], []
    p_key, p_name, p_size = [], [], []
    o_key, o_cust, o_date, o_price = [], [], [], []
    for b in range(blocks):
        off = b * BLK
        for c in range(1, customers + 1):
            c_key.append(off + c)
            c_name.append(f"Customer#{off + c:09d}")
            c_nation.append(rng.randrange(25))
        for p in range(1, parts + 1):
            p_key.append(off + p)
            p_name.append(f"part {off + p}")
            p_size.append(rng.randrange(1, 51))
        for o in range(1, orders + 1):
            o_key.append(off + o)
            o_cust.append(off + rng.randrange(1, customers + 1))
            o_date.append(8035 + rng.randrange(2400))  # days since epoch
            o_price.append(round(rng.uniform(900.0, 500000.0), 2))
    tdir = os.path.join(root, "tables")
    os.makedirs(tdir, exist_ok=True)
    _write_parquet(os.path.join(tdir, "customer.parquet"), pa.table({
        "c_custkey": pa.array(c_key, pa.int64()),
        "c_name": pa.array(c_name, pa.string()),
        "c_nationkey": pa.array(c_nation, pa.int32()),
    }))
    _write_parquet(os.path.join(tdir, "part.parquet"), pa.table({
        "p_partkey": pa.array(p_key, pa.int64()),
        "p_name": pa.array(p_name, pa.string()),
        "p_size": pa.array(p_size, pa.int32()),
    }))
    _write_parquet(os.path.join(tdir, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(o_key, pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderdate": pa.array(o_date, pa.date32()),
        "o_totalprice": pa.array(o_price, pa.float64()),
    }))
    return {"customers": len(c_key), "parts": len(p_key), "orders": len(o_key)}


def _orders(root: str) -> list[tuple[int, int]]:
    t = pq.read_table(os.path.join(root, "tables", "orders.parquet"),
                      columns=["o_orderkey", "o_custkey"])
    return list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


# ---------------------------------------------------------------------------
# Species landing: HCOP + NCBI (queries_flows._species_world relation stream)
# ---------------------------------------------------------------------------

def _shuffled_evidence(rng: random.Random, ev: str) -> str:
    """An unsanitized spelling of ``ev`` (order, spacing, a repeated token)
    that ``sanitize_evidence_set`` maps back to ``ev``."""
    toks = ev.split(", ")
    rng.shuffle(toks)
    if rng.random() < 0.2:
        toks.append(toks[0])
    return rng.choice([",", ", ", " , "]).join(toks)


def _hcop_line(rng, tax: str, src: str, dest: str, sources: str) -> str:
    n = rng.randrange(1, 10**6)
    return "\t".join([
        tax, src, f"ENSG{n:011d}", f"HGNC:{n}", f"gene {n}", f"SYM{n}",
        str(rng.randrange(1, 23)), f"ID{n}", dest, f"ENSRNOG{n:011d}", "-",
        f"ortholog {n}", f"sym{n}", str(rng.randrange(1, 21)), f"OID{n}",
        sources,
    ])


def species_landing(root: str, rng: random.Random,
                    other_species_share: float = 0.5) -> int:
    """Land the world's human→rat relation stream: HGNC rows (orderkey % 3
    != 0, plus the curated side-feed) in HCOP, NCBI rows in gene_orthologs.
    About ``other_species_share`` extra lines per relation go to mouse/dog
    partners or non-human sources, which the rat scan filters drop. Returns
    the number of lines written (headers included)."""
    hcop, ncbi = [], ["#tax_id\tGeneID\trelationship\tOther_tax_id\tOther_GeneID"]
    for o, c in _orders(root):
        src = f"EGH{c}"
        dest = f"EGR{1 + (o * 7) % 199 + BLK * (o // BLK)}"
        ev = _EVIDENCE[o % 5]
        if o % 3 == 0:
            ncbi.append("\t".join([HUMAN_TAX, src, ev, RAT_TAX, dest]))
        else:
            hcop.append(_hcop_line(rng, RAT_TAX, src, dest,
                                   _shuffled_evidence(rng, ev)))
        if rng.random() < other_species_share:
            other = f"EGM{rng.randrange(1, 10**6)}"
            pick = rng.randrange(3)
            if pick == 0:
                hcop.append(_hcop_line(rng, rng.choice([MOUSE_TAX, DOG_TAX]),
                                       src, other, ev))
            elif pick == 1:
                ncbi.append("\t".join([HUMAN_TAX, src, "Ortholog", MOUSE_TAX, other]))
            else:  # reverse direction: rat source, human partner
                ncbi.append("\t".join([RAT_TAX, dest, "Ortholog", HUMAN_TAX, src]))
    # curated side-feed (queries_flows: part p <= 199, p % 25 == 0)
    for p in range(25, 200, 25):
        hh = 1 + (p * 13) % 150
        hcop.append(_hcop_line(rng, RAT_TAX, f"EGH{hh}", f"EGR{p}",
                               "OrthoDB,Ensembl"))
    n = _write_gz(landing_file(root, "hcop", "hcop_all_species.txt.gz"), hcop)
    n += _write_gz(landing_file(root, "ncbi", "gene_orthologs.gz"), ncbi)
    return n


# ---------------------------------------------------------------------------
# Alliance landing (queries_flows._agr_world lines)
# ---------------------------------------------------------------------------

AGR_HEADER = (
    "Gene1ID\tGene1Symbol\tGene1SpeciesTaxonID\tGene1SpeciesName\tGene2ID\t"
    "Gene2Symbol\tGene2SpeciesTaxonID\tGene2SpeciesName\tAlgorithms\t"
    "AlgorithmsMatch\tOutOfAlgorithms\tIsBestScore\tIsBestRevScore"
)
_AGR_ALGOS = (
    "ZFIN|Ensembl Compara|OrthoInspector",
    "Ensembl Compara|ZFIN|Ensembl Compara",
    "PANTHER",
    "OrthoFinder",
)
#: taxa outside the Alliance species set: the F7 filter drops these lines
_FOREIGN_TAXA = ("NCBITaxon:9913", "NCBITaxon:9031", "NCBITaxon:8364")


def agr_landing(root: str, rng: random.Random,
                foreign_share: float = 0.25) -> int:
    """Land the Alliance TSV: the world's lines (formulas of ``_agr_world``)
    plus ``foreign_share`` extra lines whose taxa the species filter drops."""
    out = [
        "#########################################################",
        "# Alliance of Genome Resources combined orthology file",
        "# Generated: synthetic benchmark input",
        "#########################################################",
        AGR_HEADER,
    ]

    def line(g1, s1, t1, g2, s2, t2, algos, best, rev):
        return "\t".join([g1, s1, t1, "Homo sapiens", g2, s2, t2, "x", algos,
                          "3", "10", best, rev])

    for ok, ck in _orders(root):
        dp = str(1 + ok % 173)
        g1 = f"RGD:{1000000 + ck}" if ok % 23 == 0 else f"AGR:H{ck}"
        s1 = f"HAX{ck}" if ck % 13 == 0 else f"HA{ck}"
        if ok % 19 == 0:
            g2, s2, t2 = f"AGR:X{dp}", "XX", "NCBITaxon:9986"
        elif ok % 11 == 0:
            g2, s2, t2 = f"AGR:Z{ok % 97}", f"ZF{ok % 97}", "NCBITaxon:7955"
        else:
            g2, s2, t2 = f"AGR:R{dp}", f"RA{dp}", "NCBITaxon:10116"
        out.append(line(g1, s1, "NCBITaxon:9606", g2, s2, t2, _AGR_ALGOS[ok % 4],
                        "Yes" if ok % 2 == 0 else "No",
                        "Yes" if ok % 5 == 0 else "No"))
        if rng.random() < foreign_share:
            n = rng.randrange(1, 10**6)
            out.append(line(f"AGR:F{n}", f"FS{n}", rng.choice(_FOREIGN_TAXA),
                            g2, s2, t2, "PANTHER", "Yes", "No"))
    for p in range(30, 174, 30):  # curated side-feed: p <= 173, p % 30 == 0
        hh3 = 1 + (p * 7) % 150
        out.append(line(f"AGR:H{hh3}", f"HA{hh3}", "NCBITaxon:9606",
                        f"AGR:R{p}", f"RA{p}", "NCBITaxon:10116", "OrthoFinder",
                        "Yes", "Yes" if p % 60 == 0 else "No"))
    return _write_gz(
        landing_file(root, "agr", "ORTHOLOGY-ALLIANCE_COMBINED.tsv.gz"), out
    )


# ---------------------------------------------------------------------------
# Corpus: multilingual documents with planted duplicates and low-quality text
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ("the", "and", "of", "is", "a", "to", "in", "it", "on", "for"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "des", "et"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "和"),
}
_LANG_MIX = ("en",) * 6 + ("es", "fr", "de", "zh")
_SYLLABLES = [a + b for a in "bcdfgklmnprstvz" for b in ("a", "e", "i", "o", "u", "ar", "en", "is", "on", "ut")]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct content words built from random syllables. Distinct
    documents sample independently from it, so they share almost no word
    trigrams (unlike rotations of one text, which share nearly all)."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def _document(rng: random.Random, vocab: list[str], lang: str) -> list[str]:
    markers = _MARKERS[lang]
    toks = []
    for _ in range(rng.randrange(40, 160)):
        toks.append(rng.choice(markers) if rng.random() < 0.3 else rng.choice(vocab))
    return toks


def corpus(root: str, rng: random.Random, docs: int) -> int:
    """Write ``docs`` JSONL documents (plus a few corrupt lines) to the
    landing corpus file and the valid ones to ``tables/documents.parquet``.

    Mix: ~8% exact duplicates (case/whitespace variants of an earlier text),
    ~8% near duplicates (an earlier text with ~5% of its words replaced), ~7%
    low-quality (one word repeated after a lone "the"), the rest distinct
    documents across five languages."""
    vocab = _vocabulary(rng, 6000)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(docs):
        r = rng.random()
        if texts and r < 0.08:
            j = rng.randrange(len(texts))
            t = texts[j]
            t = rng.choice([t.upper(), "  " + t.replace(" ", "   ") + " ", t])
            lang = langs[j]
        elif texts and r < 0.16:
            j = rng.randrange(len(texts))
            toks = texts[j].split()
            for _ in range(max(1, len(toks) // 20)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            t, lang = " ".join(toks), langs[j]
        elif r < 0.23:
            w = rng.choice(vocab)
            t, lang = "the " + " ".join([w] * rng.randrange(3, 30)), "en"
        else:
            lang = rng.choice(_LANG_MIX)
            t = " ".join(_document(rng, vocab, lang))
        texts.append(t)
        langs.append(lang)
    ids = list(range(1, docs + 1))
    sources = [f"src{i % 20}" for i in ids]
    lines = []
    for i, t, lang, s in zip(ids, texts, langs, sources):
        lines.append(json.dumps(
            {"doc_id": i, "text": t, "lang": lang, "source": s, "n_chars": len(t)},
            ensure_ascii=False,
        ))
        if i % 500 == 0:
            lines.append('{"doc_id": ' + str(i) + ', "text": "truncated')
    _write_parquet(os.path.join(root, "tables", "documents.parquet"), pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    return _write_gz(landing_file(root, "corpus", "documents.jsonl.gz"), lines)


def generate(root: str, flow: str, seed: int, spec: dict) -> dict:
    """Write every input of one workload under ``root``; returns counts
    (``lines`` = lines in the landed files the operation scans)."""
    rng = random.Random(f"{flow}:{seed}")
    os.makedirs(os.path.join(root, "tables"), exist_ok=True)
    if flow == "corpus":
        return {"lines": corpus(root, rng, spec["docs"])}
    counts = key_tables(root, rng, spec["blocks"], spec["customers"],
                        spec["parts"], spec["orders"])
    if flow == "species":
        counts["lines"] = species_landing(root, rng)
    else:
        counts["lines"] = agr_landing(root, rng)
    return counts
