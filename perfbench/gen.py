"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same catalog, the same source tables and the same corpus, byte for byte.
The engine only ever sees the files written here.

Ingest sources follow the FIXTURES F1-F4 shapes: an all-typed source
table per catalog entry (magic day ordinals, HHMMSS times, byte-encoded
flags, padded company codes, nullish strings, ~2% key tuples that repeat
with a later modification stamp, ~1% exact duplicate rows), a
``companias`` dimension for the FILTER_EXP semijoin, and a catalog whose
column specs use the transform DSL the way the reference's
``columns.csv`` does (``Case`` mappings, ``Numeric``, ``ClearString`` and
a ``Date_to_String(DateMagic(...))`` nesting).

The corpus is ``documents`` joined with ``embeddings`` on
``doc_id = vec_id`` in the shape of the sf0.1 test tables, with seeded
near-duplicate documents whose embeddings sit next to their originals.
"""

from __future__ import annotations

import datetime as dt
import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAGIC_OFFSET = 693596  # magic ordinal of 1900-01-01
_EPOCH = np.datetime64("1900-01-01", "D")
# order dates and base modification stamps fall in this window; day 0 of
# the incremental workload is after it, so every later day's stamp is
# strictly above any base stamp
_DATE_LO = np.datetime64("2023-01-01", "D")
_DATE_SPAN = int((np.datetime64("2025-11-30", "D") - _DATE_LO).astype(np.int64))
DAY0 = dt.date(2026, 1, 1)

N_COMPANIAS = 20


def magic(days: np.ndarray) -> np.ndarray:
    """datetime64[D] -> magic day ordinal (FIXTURES F1)."""
    return (days - _EPOCH).astype(np.int64) + MAGIC_OFFSET


def magic_of(day: dt.date) -> int:
    return (day - dt.date(1900, 1, 1)).days + MAGIC_OFFSET


def _salt(*parts) -> int:
    return zlib.crc32("/".join(map(str, parts)).encode())


def _key_hash(keys: np.ndarray, seed: int, salt: str) -> np.ndarray:
    """splitmix64 of (key, seed, salt): a per-key attribute that does not
    depend on which day or row version carries the key."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(
            (seed * 0x9E3779B97F4A7C15 + _salt(salt)) % 2**64
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# -- catalog -----------------------------------------------------------------

#: source columns every table has: the key tuple and the modification
#: stamp W1 dedups on
KEY_COLUMNS = ("compania", "sucursal", "nropedido", "fecmodi", "horamodi")
#: the rest of the F1 columns, added in this order as a table widens
F1_COLUMNS = (
    "fecpedido", "stspedido", "importe", "flgatend", "linea", "familia",
    "mescuota", "anyocuota", "horacrea", "feccrea", "qcajpedid", "descrip",
)
#: filler kinds for tables wider than F1, cycled
FILLER_KINDS = ("amt", "qty", "cod", "txt", "fec")

@dataclass(frozen=True)
class TableSpec:
    name: str
    width: int  # source columns
    n_keys: int  # distinct key tuples in the base load
    partition: str = ""  # stage partition column, '' = unpartitioned
    filtered: bool = False  # FILTER_EXP semijoin to companias
    incremental: bool = False

    def source_columns(self) -> list[str]:
        cols = list(KEY_COLUMNS) + list(F1_COLUMNS)
        cols = cols[: self.width]
        for i in range(self.width - len(cols)):
            cols.append(f"{FILLER_KINDS[i % len(FILLER_KINDS)]}_{i:02d}")
        if self.incremental:
            cols.append("lote")
        return cols


FILTER_EXP = "compania in (select compania from companias where flgbi = 'a')"


def column_rows(spec: TableSpec) -> list[dict[str, str]]:
    """``columns.csv``-shaped rows for one stage table."""
    src = set(spec.source_columns())
    rows: list[tuple] = [
        ("id_compania", "string", "fn_transform_ClearString(compania)", "id"),
        ("id_sucursal", "string", "fn_transform_ClearString(sucursal)", "id"),
        ("id_pedido", "string", "fn_transform_ClearString(nropedido)", "id"),
        ("lastmodifydate", "timestamp",
         "fn_transform_DatetimeMagic(fecmodi,horamodi,yyyy-MM-dd HH:mm:ss)",
         "filter_date"),
    ]
    if "lote" in src:
        rows.append(("lote", "integer", "fn_transform_Integer(lote)", ""))
    f1 = {
        "fecpedido": [
            ("fecha_pedido", "date",
             "fn_transform_DateMagic(fecpedido,yyyy-MM-dd,to_null)", "order_by"),
            ("processperiod", "string",
             "fn_transform_Date_to_String(fn_transform_DateMagic("
             "fecpedido,yyyy-MM-dd,1900-01-01),yyyyMM)", ""),
        ],
        "stspedido": [("estado_desc", "string",
                       "fn_transform_Case_with_default(stspedido,"
                       "001|002->Activo,003->Inactivo,$Desconocido)", "")],
        "importe": [("importe", "numeric(13,2)",
                     "fn_transform_Numeric(importe)", "")],
        "flgatend": [("es_atendido", "string",
                      "fn_transform_ByteMagic(flgatend,$F)", "")],
        "familia": [("es_jarabe", "string",
                     "fn_transform_Case_with_default(linea&familia,"
                     "03&003->T,$F)", "")],
        "anyocuota": [("periodo_cuota", "string",
                       "fn_transform_PeriodMagic(mescuota,anyocuota)", "")],
        "feccrea": [("fecha_creacion", "timestamp",
                     "fn_transform_DatetimeMagic(feccrea,horacrea,"
                     "yyyy-MM-dd HH:mm:ss)", "")],
        "qcajpedid": [("cantidad", "double",
                       "fn_transform_Double(qcajpedid)", "")],
        "descrip": [
            ("descripcion", "string", "fn_transform_ClearString(descrip)", ""),
            ("id_full", "string",
             "fn_transform_Concatenate(compania,sucursal,nropedido)", ""),
        ],
    }
    for col in F1_COLUMNS:
        if col in src:
            rows.extend(f1.get(col, []))
    filler = {
        "amt": ("numeric(13,2)", "fn_transform_Numeric({c})"),
        "qty": ("double", "fn_transform_Double({c})"),
        "cod": ("string", "fn_transform_Case_with_default({c},"
                          "A|B->Grupo1,C->Grupo2,$Otro)"),
        "txt": ("string", "fn_transform_ClearString({c})"),
        "fec": ("date", "fn_transform_DateMagic({c},yyyy-MM-dd,to_null)"),
    }
    for c in spec.source_columns():
        kind = c.split("_")[0]
        if kind in filler and c not in KEY_COLUMNS:
            dtype, tmpl = filler[kind]
            rows.append((f"t_{c}", dtype, tmpl.format(c=c), ""))
    out = []
    for i, (name, dtype, transform, role) in enumerate(rows):
        out.append({
            "COLUMN_NAME": name,
            "COLUMN_ID": str(i),
            "IS_FILTER_DATE": "T" if role == "filter_date" else "F",
            "IS_ID": "T" if role == "id" else "F",
            "IS_ORDER_BY": "T" if role == "order_by" else "F",
            "IS_PARTITION": "T" if name == spec.partition else "F",
            "NEW_DATA_TYPE": dtype,
            "TABLE_NAME": spec.name.upper(),
            "TRANSFORMATION": transform,
        })
    return out


def table_row(spec: TableSpec, process_id: str) -> dict[str, str]:
    """``tables.csv``-shaped row for one table."""
    return {
        "SOURCE_TABLE": f"src_{spec.name}",
        "STAGE_TABLE_NAME": spec.name,
        "LOAD_TYPE": "incremental" if spec.incremental else "full",
        "PARTITION_COLUMN": "fecmodi" if spec.incremental else "",
        "FILTER_EXP": FILTER_EXP if spec.filtered else "",
        "PROCESS_ID": process_id,
        "SOURCE_TABLE_TYPE": "t" if spec.incremental else "m",
        "STATUS": "a",
    }


def build_catalog(specs: list[TableSpec], process_id: str):
    """Engine ``Catalog`` from the csv-shaped rows, through the models'
    own row parsers."""
    from cdk_datalake_ingest_bigmagic_spark.config.models import (
        Catalog,
        ColumnSpec,
        TableConfig,
    )

    tables = {
        s.name: TableConfig.from_row(table_row(s, process_id)) for s in specs
    }
    columns = {
        s.name.upper(): [ColumnSpec.from_row(r) for r in column_rows(s)]
        for s in specs
    }
    return Catalog(tables=tables, columns=columns)


# -- source rows --------------------------------------------------------------


def _pick(rng, values, n, null_frac=0.0):
    out = np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]
    if null_frac:
        out[rng.random(n) < null_frac] = None
    return out


def _values(col: str, rng, n: int, stamp_days: np.ndarray):
    """Payload values of one source column for ``n`` row versions."""
    if col == "fecmodi":
        return magic(stamp_days)
    if col == "horamodi" or col == "horacrea":
        return (rng.integers(0, 24, n) * 10000 + rng.integers(0, 60, n) * 100
                + rng.integers(0, 60, n)).astype(np.int32)
    if col == "feccrea":
        return magic(_DATE_LO + rng.integers(0, _DATE_SPAN, n)).astype(np.int32)
    if col == "stspedido":
        return _pick(rng, ["001", "002", "003", "099"], n)
    if col == "importe":
        return np.char.mod("%.2f", rng.integers(0, 10_000_000, n) / 100).astype(object)
    if col == "flgatend":
        return _pick(rng, ["T", "F", "0x54", "0x46", "84", "70"], n, 0.05)
    if col == "linea":
        return _pick(rng, ["01", "02", "03", "04"], n)
    if col == "familia":
        return _pick(rng, ["001", "003", "008"], n)
    if col in ("mescuota", "anyocuota"):
        lo, hi = (1, 13) if col == "mescuota" else (2023, 2026)
        out = rng.integers(lo, hi, n).astype(object)
        # NULL pairs: a generator seeded by the row count nulls the same
        # ~3% of rows in both columns
        out[np.random.default_rng(n).random(n) < 0.03] = None
        return out
    if col == "qcajpedid" or col.startswith("qty_"):
        return np.round(rng.random(n) * 500, 3)
    if col == "descrip" or col.startswith("txt_"):
        return _pick(rng, ["  pedido normal ", "", "None", "NULL",
                           "entrega urgente", " reposicion", "cliente nuevo  "],
                     n, 0.03)
    if col.startswith("amt_"):
        return np.char.mod("%.2f", rng.integers(0, 1_000_000, n) / 100).astype(object)
    if col.startswith("cod_"):
        return _pick(rng, ["A", "B", "C", "D"], n)
    if col.startswith("fec_"):
        return magic(_DATE_LO + rng.integers(0, _DATE_SPAN, n)).astype(np.int32)
    raise KeyError(col)


def _key_columns(keys: np.ndarray, seed: int, table: str) -> dict[str, np.ndarray]:
    """Columns fixed by the key: the key tuple itself and the order date."""
    codes = np.array([f"{i:02d}" for i in range(1, N_COMPANIAS + 1)], dtype=object)
    h = _key_hash(keys, seed, table + "/compania")
    compania = codes[(h % np.uint64(N_COMPANIAS)).astype(np.int64)]
    padded = (h >> np.uint64(40)) % np.uint64(20) == 0  # ~5% ' 01 ' spellings
    compania = np.where(padded, np.char.add(np.char.add(" ", compania.astype(str)), " "),
                        compania).astype(object)
    suc = _key_hash(keys, seed, table + "/sucursal") % np.uint64(50) + np.uint64(1)
    fd = _key_hash(keys, seed, table + "/fecpedido")
    days = _DATE_LO + (fd % np.uint64(_DATE_SPAN)).astype(np.int64)
    fecpedido = magic(days).astype(str).astype(object)
    kind = (fd >> np.uint64(32)) % np.uint64(50)
    fecpedido[kind == 0] = "0"  # ~2% zero ordinals -> default branch
    iso = kind == 1  # ~2% ISO strings -> the string branch
    fecpedido[iso] = np.datetime_as_string(days[iso], unit="D").astype(object)
    return {
        "compania": compania,
        "sucursal": np.char.zfill(suc.astype(str), 3).astype(object),
        "nropedido": keys.astype(np.int64),
        "fecpedido": fecpedido,
    }


def _rows(spec: TableSpec, seed: int, keys: np.ndarray, stamp_days: np.ndarray,
          salt: str, lote: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, _salt(spec.name, salt)])
    fixed = _key_columns(keys, seed, spec.name)
    out = {}
    for col in spec.source_columns():
        if col in fixed:
            out[col] = fixed[col]
        elif col == "lote":
            out[col] = np.full(len(keys), lote, dtype=np.int32)
        else:
            out[col] = _values(col, rng, len(keys), stamp_days)
    return out


def base_rows(spec: TableSpec, seed: int) -> dict[str, np.ndarray]:
    """Base load: every key once, ~2% of keys again with a later stamp
    and new payload, ~1% exact duplicate rows."""
    rng = np.random.default_rng([seed, _salt(spec.name, "base")])
    n = spec.n_keys
    keys = np.arange(n, dtype=np.int64)
    stamps = _DATE_LO + rng.integers(0, _DATE_SPAN, n)
    v0 = _rows(spec, seed, keys, stamps, "v0", 0)
    coll = rng.choice(n, size=n // 50, replace=False)
    later = stamps[coll] + rng.integers(1, 30, len(coll))
    v1 = _rows(spec, seed, keys[coll], later, "v1", 0)
    dup = rng.choice(n, size=n // 100, replace=False)
    return {
        c: np.concatenate([v0[c], v1[c], v0[c][dup]]) for c in v0
    }


def day_rows(spec: TableSpec, seed: int, day: int, n_new: int,
             update_frac: float) -> dict[str, np.ndarray]:
    """Incremental day ``day`` >= 1: ``n_new`` fresh keys plus a seeded
    sample of existing keys updated, all stamped with that day."""
    rng = np.random.default_rng([seed, _salt(spec.name, "day", day)])
    known = spec.n_keys + (day - 1) * n_new
    new = np.arange(known, known + n_new, dtype=np.int64)
    upd = np.sort(rng.choice(known, size=int(known * update_frac), replace=False))
    keys = np.concatenate([upd, new])
    stamps = np.full(len(keys), np.datetime64(DAY0, "D") + day)
    return _rows(spec, seed, keys, stamps, f"day{day}", day)


def _arrow(cols: dict[str, np.ndarray], spec: TableSpec) -> pa.Table:
    arrays = {}
    for c in spec.source_columns():
        v = cols[c]
        if c in ("mescuota", "anyocuota"):
            arrays[c] = pa.array(v, type=pa.int32())
        elif v.dtype == object:
            arrays[c] = pa.array(v, type=pa.string())
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def write_companias(root: Path, seed: int) -> Path:
    """F4: 20 company codes, a seeded 60% of them active (exactly 12,
    so the filtered share of a table does not swing with the seed)."""
    rng = np.random.default_rng([seed, _salt("companias")])
    codes = [f"{i:02d}" for i in range(1, N_COMPANIAS + 1)]
    active = rng.permutation(N_COMPANIAS) < N_COMPANIAS * 3 // 5
    flg = np.where(active, "a", "i")
    path = root / "companias.parquet"
    pq.write_table(pa.table({"compania": codes, "flgbi": flg.tolist()}), path)
    return path


def new_keys_per_day(spec: TableSpec, n_new_frac: float) -> int:
    return max(1, int(spec.n_keys * n_new_frac))


def write_sources(root: Path, specs: list[TableSpec], seed: int, days: int,
                  n_new_frac: float, update_frac: float) -> dict[str, Path]:
    """One hive-partitioned dataset per table: ``src_day=0`` holds the
    base load and, for incremental tables, ``src_day=d`` the changes of
    day d. A full table offers its base load again every day."""
    out = {}
    for s in specs:
        base = root / f"src_{s.name}"
        parts = [base_rows(s, seed)]
        if s.incremental:
            n_new = new_keys_per_day(s, n_new_frac)
            parts += [day_rows(s, seed, d, n_new, update_frac)
                      for d in range(1, days + 1)]
        for d, cols in enumerate(parts):
            (base / f"src_day={d}").mkdir(parents=True)
            pq.write_table(_arrow(cols, s), base / f"src_day={d}" / "part-0.parquet")
        out[s.name] = base
    return out


# -- corpus -------------------------------------------------------------------

_VOCAB = (
    "a the data spark table query join filter group order sort scan hash "
    "merge stream window batch value key row column line part vector agg "
    "small big fast slow customer index shard split token model train "
    "eval lake ingest stage raw delta commit log file"
).split()
EMBED_DIM = 64


def write_corpus(root: Path, seed: int, n_docs: int, dup_frac: float,
                 n_sources: int = 5) -> tuple[Path, Path]:
    """``documents`` and ``embeddings`` (sf0.1 shapes). ``dup_frac`` of
    the documents are near-copies of an earlier one (one word changed,
    embedding nudged), so both dedup tiers have work to do."""
    rng = np.random.default_rng([seed, _salt("corpus")])
    vocab = np.array(_VOCAB, dtype=object)
    n_orig = n_docs - int(n_docs * dup_frac)
    centers = rng.normal(size=(32, EMBED_DIM))
    texts: list[str] = []
    emb = np.empty((n_docs, EMBED_DIM), dtype=np.float32)
    for i in range(n_orig):
        words = vocab[rng.integers(0, len(vocab), rng.integers(40, 160))]
        texts.append(" ".join(words))
        emb[i] = centers[rng.integers(0, len(centers))] + rng.normal(size=EMBED_DIM)
    for i in range(n_orig, n_docs):
        src = int(rng.integers(0, n_orig))
        words = texts[src].split(" ")
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words))
        emb[i] = emb[src] + rng.normal(scale=0.05, size=EMBED_DIM)
    ids = rng.permutation(n_docs).astype(np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{int(i) % n_sources}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), type=pa.int32()),
    })
    dpath, epath = root / "documents.parquet", root / "embeddings.parquet"
    pq.write_table(docs, dpath)
    pq.write_table(vecs, epath)
    return dpath, epath
