"""Seeded input generators with planted truth.

Every generator takes the run seed and writes plain files: the engine
sees only those files, never the generator's state. The returned truth
objects are what the per-operation output checks compare against.

Numbers that the lake tables sum are dyadic (multiples of 1/4, 1/32,
1/64), so every partial sum is exact in IEEE doubles and Spark and
DuckDB agree bit for bit whatever order they add in.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

import numpy as np

# -- ingest_daily -------------------------------------------------------------

CSV_HEADER = (
    "SimulationID,CA (mol/m^3),CB (mol/m^3),CC (mol/m^3),CD (mol/m^3),"
    "T (K),Tsensor (K),t (sec)"
)
# the required "T (K)" column renamed: the engine must reject the file whole
BAD_CSV_HEADER = CSV_HEADER.replace("T (K)", "Temp (K)")


@dataclass
class DropShape:
    # 5000 rows per CSV is the repo's own ingest benchmark (bench.py
    # ROWS_PER_FILE, the FIXTURES.md file shape); 16 files is a quarter
    # of its 64-file default batch, so that a run fits the benchmark's
    # time budget (a 32-file drop took 12.8 s against ~10 s at 16 files
    # on a 4-core host)
    files: int = 16  # reaction CSVs per drop, one metadata JSON each
    rows: int = 5000  # rows per CSV
    malformed_share: float = 0.02  # rows with a non-numeric measure
    late_share: float = 0.10  # metadata JSONs that land one drop late
    bad_header_every: int = 3  # every n-th drop has one CSV with a bad header,
    bad_header_from: int = 1  # from this drop on (the first drop is a clean backlog)


@dataclass
class SimTruth:
    n_good: int  # rows that must reach fact_sim
    n_malformed: int
    max_temperature: float | None  # over good rows
    late: bool  # metadata lands in the next drop
    bad_header: bool


@dataclass
class DropTruth:
    day: str
    sims: dict[str, SimTruth] = field(default_factory=dict)
    files_landed: int = 0  # CSVs + JSONs written into this drop's directory
    bytes_landed: int = 0

    @property
    def fact_rows(self) -> int:
        return sum(s.n_good for s in self.sims.values() if not s.bad_header)

    @property
    def late_fact_rows(self) -> int:
        return sum(s.n_good for s in self.sims.values() if s.late and not s.bad_header)

    @property
    def malformed_rows(self) -> int:
        return sum(s.n_malformed for s in self.sims.values() if not s.bad_header)

    @property
    def rejected_files(self) -> int:
        return sum(1 for s in self.sims.values() if s.bad_header)

    def freshness(self) -> dict[str, tuple[bool, float, int]]:
        """simulation_id -> (enriched, max temperature, row count), what
        the freshness read must return for this day right after its run."""
        return {
            sid: (not s.late, s.max_temperature, s.n_good)
            for sid, s in self.sims.items()
            if not s.bad_header and s.n_good
        }


def drop_day(index: int) -> str:
    return str(np.datetime64("2026-01-01") + np.timedelta64(index, "D"))


def _metadata_doc(sid: str, name: int, day: str, rng: np.random.Generator) -> str:
    return json.dumps(
        {
            "simulation_id": sid,
            "reaction_name": f"rxn_{name}",
            "activation_energy (J/mol)": round(float(rng.uniform(40000, 90000)), 2),
            "CA0_(mol/m^3)": round(float(rng.uniform(5, 15)), 3),
            "CB0_(mol/m^3)": round(float(rng.uniform(5, 15)), 3),
            "T0_(K)": round(float(rng.uniform(290, 320)), 2),
            "date_run": day,
            "stop_reason": "steady_state",
            "stop_time_(s)": round(float(rng.uniform(50, 500)), 1),
        }
    )


def write_drop(
    incoming: str, seed: int, index: int, shape: DropShape, pending_late: list[tuple[str, str]]
) -> tuple[DropTruth, list[tuple[str, str]]]:
    """Land drop ``index`` under ``incoming/<day>/``: its CSVs, the
    on-time metadata JSONs and the late JSONs of the previous drop
    (``pending_late``, (simulation_id, json) pairs). Returns the drop's
    truth and the JSONs this drop holds back for the next one."""
    rng = np.random.default_rng([seed, 1, index])
    day = drop_day(index)
    day_dir = os.path.join(incoming, day)
    os.makedirs(day_dir, exist_ok=True)
    truth = DropTruth(day)
    late_next: list[tuple[str, str]] = []
    bad = index >= shape.bad_header_from and index % shape.bad_header_every == 1
    bad_file = int(rng.integers(shape.files)) if bad else -1
    late = rng.random(shape.files) < shape.late_share
    rows = shape.rows
    t = np.arange(rows) * 0.5
    for i in range(shape.files):
        sid = str(uuid.UUID(bytes=rng.bytes(16)))
        ca0, cb0 = rng.uniform(5, 15, 2)
        k = rng.uniform(0.001, 0.01)
        ca = ca0 * np.exp(-k * t) + rng.normal(0, 0.01, rows)
        cb = cb0 * np.exp(-k * t) + rng.normal(0, 0.01, rows)
        cc = ca0 - ca
        cd = 0.5 * cc
        temp = np.round(300 + 60 * (1 - np.exp(-0.02 * t)) + rng.normal(0, 0.5, rows), 2)
        tsens = np.round(temp + rng.normal(0, 0.2, rows), 2)
        malformed = rng.random(rows) < shape.malformed_share
        cols = [
            np.char.mod("%.4f", ca), np.char.mod("%.4f", cb), np.char.mod("%.4f", cc),
            np.char.mod("%.4f", cd), np.char.mod("%.2f", temp), np.char.mod("%.2f", tsens),
            np.char.mod("%.1f", t),
        ]
        # a malformed row carries text where a measure belongs
        cols[0] = np.where(malformed, "n/a", cols[0])
        body = "\n".join(
            sid + "," + ",".join(vals) for vals in zip(*(c.tolist() for c in cols))
        )
        header = BAD_CSV_HEADER if i == bad_file else CSV_HEADER
        content = header + "\n" + body + "\n"
        with open(os.path.join(day_dir, f"reaction{sid}.csv"), "w") as fh:
            fh.write(content)
        truth.bytes_landed += len(content)
        # the value the engine parses from the text, not numpy's rounding
        good_temp = cols[4].astype(np.float64)[~malformed]
        truth.sims[sid] = SimTruth(
            n_good=int((~malformed).sum()),
            n_malformed=int(malformed.sum()),
            max_temperature=float(good_temp.max()) if good_temp.size else None,
            late=bool(late[i]),
            bad_header=i == bad_file,
        )
        doc = _metadata_doc(sid, index * shape.files + i, day, rng)
        if late[i]:
            late_next.append((sid, doc))
        else:
            truth.bytes_landed += _write_json(day_dir, sid, doc)
        truth.files_landed += 1 + (not late[i])
    for sid, doc in pending_late:
        truth.bytes_landed += _write_json(day_dir, sid, doc)
        truth.files_landed += 1
    return truth, late_next


def _write_json(day_dir: str, sid: str, doc: str) -> int:
    with open(os.path.join(day_dir, f"metadata_{sid}.json"), "w") as fh:
        fh.write(doc)
    return len(doc)


# -- lake_analytics -----------------------------------------------------------

SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000, "events": 100000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLE_FILES = {"lineitem": 8, "orders": 4, "events": 2}  # part files per table


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int), n).astype("timedelta64[D]")).astype("datetime64[us]")


def write_lake_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """TPC-H-ish star schema at ``scale`` x sf0.1's row counts, one
    parquet directory per table (several part files for the big ones,
    so scans split across cores). Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n = {t: int(r * scale) for t, r in SF01_ROWS.items()}
    tables: dict[str, dict[str, np.ndarray]] = {}
    tables["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS),
    }
    tables["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": np.char.mod("Customer#%09d", np.arange(nc)),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": rng.integers(-100000, 1000000, nc) / 4.0,
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.char.mod("Supplier#%09d", np.arange(ns)),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": rng.integers(-100000, 1000000, ns) / 4.0,
    }
    npart = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.mod("part %d", np.arange(npart)),
        "p_brand": np.char.mod("Brand#%d", rng.integers(1, 26, npart)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": rng.integers(3600, 8400, npart) / 4.0,
    }
    no = n["orders"]
    odate = _days(rng, no, "1995-01-01", "2001-08-01")
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl)
    price = rng.integers(3600, 8400, nl) / 4.0  # unit price in quarters
    ext = qty * price
    disc = rng.integers(0, 4, nl) / 32.0
    tax = rng.integers(0, 6, nl) / 64.0
    ship = odate[l_order] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    flag = np.where(ship <= np.datetime64("1998-06-17"), np.array(["R", "A"])[rng.integers(0, 2, nl)], "N")
    tables["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": np.where(ship > np.datetime64("1998-06-17"), "O", "F"),
        "l_shipdate": ship,
    }
    total = np.bincount(l_order, weights=ext * (1 - disc) * (1 + tax), minlength=no)
    tables["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.floor(total * 4) / 4,
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    }
    ne = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86400 * 10**6, ne
    ).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(ts),
        "user_id": rng.integers(0, 5000, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": rng.integers(0, 2000, ne) / 4.0,
        "props": np.char.mod('{"k": %d}', rng.integers(0, 100, ne)),
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        parts = TABLE_FILES.get(name, 1)
        step = -(-table.num_rows // parts)
        for p in range(parts):
            pq.write_table(table.slice(p * step, step), os.path.join(tdir, f"part-{p:03d}.parquet"))
        rows[name] = table.num_rows
    return rows


# -- documents: the training-corpus build and the text/io queries -------------


@dataclass
class CorpusShape:
    docs: int = 1000  # documents in the corpus
    eval_docs: int = 40  # the benchmark-suite documents decontamination probes
    dup_share: float = 0.15  # documents in planted near-duplicate clusters
    low_quality_share: float = 0.05  # too short, or too repetitive
    contaminated_share: float = 0.03  # carry a 12-token span of an eval document
    vocab: int = 4000


@dataclass
class CorpusTruth:
    n_docs: int
    # doc_id -> the stage that must drop it ("quality", "near_dup",
    # "contaminated"); every other document must be exported
    drops: dict[int, str] = field(default_factory=dict)
    clusters: list[list[int]] = field(default_factory=list)  # planted near-dup clusters


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(letters[rng.integers(0, 26, int(rng.integers(4, 9)))]))
    return np.array(sorted(words))


def write_corpus(out_dir: str, seed: int, shape: CorpusShape) -> CorpusTruth:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars) and
    ``eval_docs.parquet`` (doc_id, text) under ``out_dir``, with planted
    truth for ``pipelines.build_training_corpus``. Words are drawn
    uniformly from a random vocabulary, so unplanted documents share no
    word 3-shingle or 4-gram by chance; a near-duplicate differs from
    its cluster's base text in one word (shingle Jaccard about 0.9)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, shape.vocab)

    def words(n: int) -> list[str]:
        return vocab[rng.integers(0, len(vocab), n)].tolist()

    evals = [words(int(rng.integers(60, 120))) for _ in range(shape.eval_docs)]
    n = shape.docs
    n_dup = int(n * shape.dup_share)
    n_low = int(n * shape.low_quality_share)
    n_con = int(n * shape.contaminated_share)
    ids = rng.permutation(n)
    truth = CorpusTruth(n)
    texts: dict[int, list[str]] = {}
    pos = 0
    while pos < n_dup:  # clusters of 2-4 near-duplicates
        size = min(int(rng.integers(2, 5)), n_dup - pos) if n_dup - pos > 1 else 1
        members = [int(d) for d in ids[pos : pos + size]]
        pos += size
        base = words(int(rng.integers(60, 160)))
        for d in members:
            t = list(base)
            t[int(rng.integers(len(t)))] = words(1)[0]
            texts[d] = t
        if size > 1:
            # the build keeps the longest text, then the lowest doc_id
            keep = min(members, key=lambda d: (-len(" ".join(texts[d])), d))
            truth.clusters.append(members)
            truth.drops.update({d: "near_dup" for d in members if d != keep})
    for i, d in enumerate(int(x) for x in ids[n_dup : n_dup + n_low]):
        if i % 2:
            texts[d] = words(int(rng.integers(5, 19)))  # too short
        else:
            texts[d] = [vocab[int(x)] for x in rng.integers(0, 3, int(rng.integers(40, 80)))]
        truth.drops[d] = "quality"
    for d in (int(x) for x in ids[n_dup + n_low : n_dup + n_low + n_con]):
        t, src = words(int(rng.integers(40, 140))), evals[int(rng.integers(len(evals)))]
        at, cut = int(rng.integers(len(t))), int(rng.integers(len(src) - 12))
        texts[d] = t[:at] + src[cut : cut + 12] + t[at:]
        truth.drops[d] = "contaminated"
    for d in (int(x) for x in ids[n_dup + n_low + n_con :]):
        texts[d] = words(int(rng.integers(40, 160)))
    text = [" ".join(texts[d]) for d in range(n)]
    docs = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": np.array(["de", "en", "fr", "zh"])[rng.integers(0, 4, n)],
            "source": np.char.mod("src%d", rng.integers(0, 8, n)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    ev = pa.table(
        {
            "doc_id": np.arange(1_000_000, 1_000_000 + len(evals), dtype=np.int64),
            "text": [" ".join(e) for e in evals],
        }
    )
    for name, table, parts in (("documents", docs, 4), ("eval_docs", ev, 1)):
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        step = -(-table.num_rows // parts)
        for p in range(parts):
            pq.write_table(table.slice(p * step, step), os.path.join(tdir, f"part-{p:03d}.parquet"))
    return truth
