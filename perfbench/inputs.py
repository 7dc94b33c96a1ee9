"""Seeded, cached benchmark inputs.

Three kinds of input, each cached under ``.perfbench/`` in the checkout
and keyed on the source of the code that makes it, its parameters and,
where the input depends on it, the seed:

- star-schema tables from ``tools/gen_sf.py`` (one directory per scale
  factor). The generator derives every value from the row id and takes
  no seed, so these are the same for every seed;
- the messy transaction CSVs of the writes workload (FIXTURES.md §A1
  shape), made here from the seed, with the counts of everything
  injected into them;
- the stream file drops of the writes workload: the documents of a
  table directory dealt into seeded chunks.

- a copy of a table directory with seeded near-duplicate documents.

Oracle expectations are cached too, keyed on the fingerprint of the
data plus the oracle SQL.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
GEN_SF = os.path.join(ROOT, "tools", "gen_sf.py")


def _sha(*parts: object) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _source(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _publish(tmp: str, final: str) -> str:
    """Move a finished input into place; a concurrent writer that got
    there first wins and this copy is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final


def data_fingerprint(path: str) -> str:
    """Content hash of every file under `path` (names and bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            if name.startswith(".") or name == "FINGERPRINT":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            h.update(_source(p))
    return h.hexdigest()[:16]


# --- star-schema tables ------------------------------------------------


def sf_dir(sf: float) -> str:
    return os.path.join(WORK, "data", f"sf{sf}-{_sha(_source(GEN_SF), sf)}")


def ensure_scales(scales: list[float], env: dict[str, str]) -> dict[float, str]:
    """Generate every missing scale factor in one child process (one
    JVM), so that the benchmark's own session starts cold afterwards."""
    dirs = {sf: sf_dir(sf) for sf in scales}
    missing = [sf for sf, d in dirs.items() if not os.path.isdir(d)]
    if missing:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "gendata.py")]
        for sf in missing:
            cmd += ["--sf", str(sf), "--out", dirs[sf]]
        subprocess.run(cmd, env=env, check=True, stdout=sys.stderr)
    return dirs


def fingerprint_of(table_dir: str) -> str:
    with open(os.path.join(table_dir, "FINGERPRINT")) as f:
        return f.read().strip()


# --- oracle expectations -----------------------------------------------


def oracle_expectation(table_dir: str, sql: str, keep_rows: bool = False) -> dict:
    """The DuckDB oracle's result for `sql` over `table_dir`, as
    sorted column names, row count and the strict value fingerprint
    (plus the rows themselves when `keep_rows`)."""
    from data_engineering_challenge_spark import testing

    key = _sha(fingerprint_of(table_dir), sql, keep_rows)
    path = os.path.join(WORK, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = testing.duckdb_con(table_dir)
    try:
        cols, rows = testing.run_oracle(con, sql)
    finally:
        con.close()
    n, digest = testing.fingerprint(cols, rows)
    out = {"cols": sorted(cols), "n": n, "hash": digest}
    if keep_rows:
        out["names"] = cols
        out["rows"] = [list(r) for r in rows]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


# --- messy transaction CSVs ----------------------------------------------

TX_COLUMNS = (
    "Point_De_Vente Numero_TPV Numero_Transaction Date_Transaction Heure "
    "Typologie_Magasin Numero_Fidelite Type_De_Vente Univers_Produit "
    "Segment_Produit Famille_Produit Sous_Famille_Produit Fedas_Numero "
    "Fedas_Libelle Cible_Genre_Age Modele_Couleur_Ref Modele_Couleur_Libelle "
    "Type_De_Vente_NPS Quantite_Vendue CA_Net_TTC CA_Net_HT Marge_Nette_Magasin"
).split()

# contract-breaking values per column: each still reaches the validator
# as a non-null string (numeric and date columns would parse to NULL,
# which the contract accepts)
_BREAKS = {
    "point_de_vente": lambda r: f"PDV_{r.randrange(1000):04d}",
    "numero_transaction": lambda r: f"T-{r.randrange(10**6)}",
    "heure": lambda r: f"{r.randrange(24)}h{r.randrange(60):02d}",
    "typologie_magasin": lambda r: f"Typologie {r.randrange(9)}",
    "fedas_numero": lambda r: f"Fedas#{r.randrange(999)}",
    "cible_genre_age": lambda r: "CGA-?",
    "modele_couleur_ref": lambda r: f"MCR_{r.randrange(10**5)}",
}
_NULLABLE = (
    "numero_fidelite", "univers_produit", "segment_produit",
    "famille_produit", "sous_famille_produit",
)


def _tx_row(r: random.Random, i: int) -> dict[str, str]:
    month = r.choice(("2022-01", "2022-02", "2022-03"))
    ttc = r.randrange(1, 200_000) / 1000
    row = {
        "point_de_vente": f"PDV-id-{r.randrange(1, 120):04d}",
        "numero_tpv": f"TPV_{r.randrange(1, 400)}",
        "numero_transaction": f"TID{r.randrange(10**12):012d}",
        "date_transaction": f"{month}-{r.randrange(1, 29):02d}",
        "heure": f"{r.randrange(8, 21):02d}:00:00",
        "typologie_magasin": f"Typologie_Magasin_{r.randrange(1, 6)}",
        "numero_fidelite": f"N_{r.randrange(10**6)}",
        "type_de_vente": f"TV{r.randrange(1, 4)}",
        "univers_produit": f"CL1_{r.randrange(1, 9)}",
        "segment_produit": f"CL2_{r.randrange(1, 30)}",
        "famille_produit": f"CL3_{r.randrange(1, 90)}",
        "sous_famille_produit": f"CL4_{r.randrange(1, 300)}",
        "fedas_numero": f"FedasNum{r.randrange(1, 500)}",
        "fedas_libelle": f"FedasLib{r.randrange(1, 500)}",
        "cible_genre_age": f"CGA{r.randrange(1, 12)}",
        "modele_couleur_ref": f"MCR{r.randrange(1, 210_000)}",
        "modele_couleur_libelle": f"MCL{r.randrange(1, 210_000)}",
        "type_de_vente_nps": f"NPS{r.randrange(1, 5)}",
        "quantite_vendue": str(r.choice((1, 1, 1, 1, 2, 3, -1))),
        "ca_net_ttc": f"{ttc:.3f}",
        "ca_net_ht": f"{ttc / 1.2:.3f}",
        "marge_nette_magasin": f"{ttc / 3:.3f}",
    }
    for c in _NULLABLE:
        if r.random() < 0.05:
            row[c] = r.choice(("", "#NO VALUE"))
    if r.random() < 0.2:  # decimal comma, the EU export form
        row["ca_net_ttc"] = row["ca_net_ttc"].replace(".", ",")
    elif r.random() < 0.02:
        row["ca_net_ttc"] = "#NO VALUE"
    return row


def make_transactions(seed: int, n_rows: int, out_dir: str) -> dict:
    """Write two pipe-delimited CSVs (the second without Numero_TPV)
    with null tokens, decimal commas, ~76 exact-duplicate rows and ~1%
    contract-breaking rows, and return what was injected: raw rows,
    invalid counts per column, invalid rows, and the quantity sum of
    the valid rows."""
    r = random.Random(seed)
    rows = [_tx_row(r, i) for i in range(n_rows)]
    n_dups = 76
    for _ in range(n_dups):
        rows.insert(r.randrange(len(rows)), dict(rows[r.randrange(len(rows))]))
    broken: dict[str, int] = {c: 0 for c in _BREAKS}
    bad_rows = set(r.sample(range(len(rows)), len(rows) // 100))
    for i in bad_rows:
        col = r.choice(sorted(_BREAKS))
        rows[i] = dict(rows[i], **{col: _BREAKS[col](r)})
        broken[col] += 1
    files = [rows[0::2], [{k: v for k, v in row.items() if k != "numero_tpv"} for row in rows[1::2]]]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, part in enumerate(files):
        header = [c for c in TX_COLUMNS if c.lower() in part[0]]
        p = os.path.join(out_dir, f"transactions_{k + 1}.csv")
        with open(p, "w") as f:
            f.write("|".join(header) + "\n")
            for row in part:
                f.write("|".join(row[c.lower()] for c in header) + "\n")
        paths.append(p)
    qty = sum(int(row["quantite_vendue"]) for i, row in enumerate(rows) if i not in bad_rows)
    return {
        "paths": paths,
        "rows_in": len(rows),
        "invalid_counts": broken,
        "invalid_rows": len(bad_rows),
        "rows_out": len(rows) - len(bad_rows),
        "valid_quantity": qty,
        "bytes": sum(os.path.getsize(p) for p in paths),
    }


def transactions(seed: int, n_rows: int) -> dict:
    here = os.path.abspath(__file__)
    d = os.path.join(WORK, "csv", f"tx-{_sha(_source(here), seed, n_rows)}")
    meta = os.path.join(d, "expected.json")
    if not os.path.exists(meta):
        tmp = f"{d}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        exp = make_transactions(seed, n_rows, tmp)
        exp["paths"] = [os.path.basename(p) for p in exp["paths"]]
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(exp, f)
        _publish(tmp, d)
    with open(meta) as f:
        exp = json.load(f)
    exp["paths"] = [os.path.join(d, p) for p in exp["paths"]]
    return exp


# --- near-duplicate documents -------------------------------------------


def with_near_duplicates(table_dir: str, seed: int, n_copies: int) -> str:
    """A copy of `table_dir` whose documents table also holds
    `n_copies` near-duplicates of documents the seed picks: each copy
    has a fresh doc_id and one word of its original replaced, so the
    MinHash, n-gram and exact-span dedup families have pairs to find at
    a scale where the generated corpus has next to none."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    here = os.path.abspath(__file__)
    d = os.path.join(
        WORK, "docs", f"s{seed}-{_sha(_source(here), fingerprint_of(table_dir), seed, n_copies)}"
    )
    if not os.path.isdir(d):
        rng = np.random.default_rng(seed)
        tmp = f"{d}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(
            table_dir, tmp, ignore=lambda _d, names: [n for n in names if n in (
                "documents.parquet", "FINGERPRINT")],
        )
        table = ds.dataset(os.path.join(table_dir, "documents.parquet")).to_table()
        table = table.replace_schema_metadata(None)
        docs = table.to_pylist()
        next_id = max(r["doc_id"] for r in docs) + 1
        for k, j in enumerate(rng.choice(len(docs), n_copies, replace=False)):
            words = (docs[j]["text"] or "").split()
            if words:
                w = int(rng.integers(len(words)))
                words[w] = words[int(rng.integers(len(words)))] + "x"
            text = " ".join(words)
            docs.append(dict(docs[j], doc_id=next_id + k, text=text, n_chars=len(text)))
        out = os.path.join(tmp, "documents.parquet")
        os.makedirs(out)
        pq.write_table(pa.Table.from_pylist(docs, schema=table.schema), os.path.join(out, "part-00000.parquet"))
        with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
            f.write(data_fingerprint(tmp) + "\n")
        _publish(tmp, d)
    return d


# --- stream file drops -------------------------------------------------


def document_drops(table_dir: str, seed: int, n_chunks: int) -> str:
    """Assign each document of `table_dir` to one of `n_chunks` file
    drops at random, shuffling rows inside a drop, both by the seed."""
    import numpy as np
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    here = os.path.abspath(__file__)
    d = os.path.join(
        WORK, "drops",
        f"s{seed}-{_sha(_source(here), fingerprint_of(table_dir), seed, n_chunks)}",
    )
    if not os.path.isdir(d):
        rng = np.random.default_rng(seed)
        tmp = f"{d}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        docs = ds.dataset(os.path.join(table_dir, "documents.parquet")).to_table()
        docs = docs.replace_schema_metadata(None)
        chunk_of = rng.integers(0, n_chunks, docs.num_rows)
        for k in range(n_chunks):
            idx = rng.permutation(np.flatnonzero(chunk_of == k))
            # zero-padded names: the file source takes drops in name order
            pq.write_table(docs.take(idx), os.path.join(tmp, f"part-{k:03d}.parquet"))
        _publish(tmp, d)
    return d
