"""Seeded input generators. Each returns the data plus the input
properties it varies, so a run records what it was fed.

Only numpy and the standard library: the program under test never sees
the seed, only the files and frames built here.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np

# --- feed drops -----------------------------------------------------------------

CSV_COLUMNS = [
    "Time", "eNodeB Name", "Cell Name", "Frequency band", "Downlink EARFCN",
    "Downlink bandwidth", "LocalCell Id", "Latitude", "Longitude", "Integrity",
    "FT_UL.Interference",
    "FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)",
    "FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)",
    "FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)",
    "FT_4G/LTE CALL SETUP SUCCESS RATE",
]
INT_COLS = {"Downlink EARFCN", "Downlink bandwidth", "LocalCell Id",
            "FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)"}
FLOAT_COLS = {"Latitude", "Longitude", CSV_COLUMNS[11], CSV_COLUMNS[12], CSV_COLUMNS[14]}
NULLABLE = [c for c in CSV_COLUMNS if c not in ("Frequency band", "Integrity")]
NIL_SPELLINGS = ["nil", "NIL", " NIL ", "Nil", " nil"]
CSV_HEADER = ",".join(f'"{c}"' for c in CSV_COLUMNS)


@dataclass
class FeedProfile:
    csv_files: int = 1
    rows_per_file: int = 1000
    xml_files: int = 1
    null_share: float = 0.05
    nil_share: float = 0.1
    malformed_share: float = 0.01
    bad_time_share: float = 0.02
    sample_every: int = 97  # rows kept for the cleaning replay check


def _csv_field(v) -> str:
    if v is None:
        return ""
    s = str(v)
    return f'"{s}"' if (s != s.strip() or "," in s) else s


def feed_csv(rng: np.random.Generator, name: str, p: FeedProfile):
    """One cell-metrics CSV. Returns (text, good_rows, malformed, samples):
    ``samples`` maps a unique Cell Name to the raw (pre-cleaning) values
    of every ``sample_every``-th good row."""
    lines = [CSV_HEADER]
    good = malformed = 0
    samples: dict[str, dict] = {}
    n = p.rows_per_file
    u = rng.random((n, len(CSV_COLUMNS) + 3))
    months, days = rng.integers(1, 13, n), rng.integers(1, 29, n)
    hours, mins = rng.integers(0, 24, n), rng.integers(0, 60, n)
    ints = rng.integers(1, 60000, (n, 4))
    floats = rng.random((n, 5))
    for i in range(n):
        sampled = i % p.sample_every == 0
        bad_line = not sampled and u[i, -1] < p.malformed_share
        row = {
            "Time": (f"{months[i]:02d}-{days[i]:02d}-2025 {hours[i]:02d}:{mins[i]:02d}"
                     if u[i, -2] >= p.bad_time_share else "2025/13/45 99:99"),
            "eNodeB Name": f"ENB{ints[i, 0] % 500}",
            "Cell Name": f"{name}-{i}",
            "Frequency band": ("B1", "B3", "B7", "B20")[ints[i, 1] % 4],
            "Downlink EARFCN": int(ints[i, 1]),
            "Downlink bandwidth": int(ints[i, 2] % 20 + 1),
            "LocalCell Id": int(ints[i, 3] % 16),
            "Latitude": f"{floats[i, 0] * 180 - 90:.5f}",
            "Longitude": f"{floats[i, 1] * 360 - 180:.5f}",
            "Integrity": "OK" if ints[i, 0] % 7 else "PARTIAL",
            "FT_UL.Interference": (NIL_SPELLINGS[ints[i, 2] % 5] if u[i, -3] < p.nil_share
                                   else f"{-100 - floats[i, 2] * 20:.3f}"),
            CSV_COLUMNS[11]: f"{floats[i, 3] * 90000:.3f}",
            CSV_COLUMNS[12]: f"{floats[i, 4] * 100:.3f}",
            CSV_COLUMNS[13]: int(ints[i, 0] % 300),
            CSV_COLUMNS[14]: f"{floats[i, 2]:.4f}",
        }
        for j, col in enumerate(NULLABLE):
            if u[i, j] < p.null_share and not (sampled and col == "Cell Name"):
                row[col] = None
        if bad_line:
            row["LocalCell Id"] = f"x{i}"  # not an int: the line is unparseable
            malformed += 1
        else:
            good += 1
            if sampled:
                samples[row["Cell Name"]] = {k: (None if v is None else str(v)) for k, v in row.items()}
        lines.append(",".join(_csv_field(row[c]) for c in CSV_COLUMNS))
    return "\n".join(lines) + "\n", good, malformed, samples


MEASCOLLEC_NS = "http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec"


def feed_xml(rng: np.random.Generator, name: str, infos: int = 4, objs: int = 25, types: int = 8) -> tuple[bytes, int]:
    """One gzip measCollec document; returns (gz bytes, KPI rows inside).
    Each measValue reports every type plus one unknown position, and a
    tenth of the values are ``NIL``."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<measCollecFile xmlns="{MEASCOLLEC_NS}">',
        '<fileHeader fileFormatVersion="32.435 V10.0">'
        '<measCollec beginTime="2025-07-04T13:00:00+01:00"/></fileHeader><measData>',
        f'<managedElement localDn="SubNetwork=1,ManagedElement={name}"/>',
    ]
    rows = 0
    vals = rng.integers(0, 100000, (infos, objs, types + 1))
    nil = rng.random((infos, objs, types + 1)) < 0.1
    for m in range(infos):
        parts.append(f'<measInfo measInfoId="{name}-m{m}"><job jobId="j{m}"/>'
                     '<granPeriod duration="PT900S" endTime="2025-07-04T13:15:00+01:00"/>')
        parts.extend(f'<measType p="{t + 1}">KPI.{m}.{t}</measType>' for t in range(types))
        for o in range(objs):
            parts.append(f'<measValue measObjLdn="eNodeBFunctionName={name},cellId={o}">')
            for t in range(types + 1):
                v = "NIL" if nil[m, o, t] else str(vals[m, o, t])
                parts.append(f'<r p="{t + 1}">{v}</r>')
                rows += 1
            parts.append("</measValue>")
        parts.append("</measInfo>")
    parts.append("</measData></measCollecFile>")
    return gzip.compress("".join(parts).encode(), compresslevel=1), rows


# --- relational tables -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = (["small", "red", "blue", "hot", "big", "green", "cold", "old"],
           ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pin", "cog"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def tables(rng: np.random.Generator, sf: float) -> tuple[dict, dict]:
    """TPC-H-shaped star schema plus an ``events`` table at scale ``sf``
    (lineitem ≈ 600k·sf rows). Returns ({table: pyarrow.Table}, props)."""
    import pyarrow as pa

    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 200)
    n_events, n_users = max(int(1_000_000 * sf), 500), max(int(15_000 * sf), 20)
    day = np.timedelta64(1, "D")
    base = np.datetime64("1995-01-01", "us")
    t = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_WORDS[0], n_part), rng.choice(P_WORDS[1], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }),
    }
    odate = base + rng.integers(0, 2400, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n_li) * day
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ship,
    })
    ev_base = np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(ev_base + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    props = {"sf": sf, "lineitem_rows": n_li, "orders": n_ord, "events": n_events}
    return t, props


def write_tables(tabs: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# --- documents -------------------------------------------------------------------

VOCAB = ("the a scan column window order sort part agg value line key join merge group "
         "query vector hash slow stream filter fast batch spark table small data big "
         "customer row").split()
LANG_WORDS = {"en": ["river", "house"], "fr": ["maison", "rue"], "es": ["casa", "calle"],
              "de": ["haus", "strasse"], "zh": ["shui", "shan"]}


@dataclass
class DocProfile:
    n_docs: int = 300
    near_dup_share: float = 0.15
    contamination_share: float = 0.05
    lang_mix: tuple = (("en", 0.4), ("fr", 0.15), ("es", 0.15), ("de", 0.15), ("zh", 0.15))
    min_words: int = 30
    max_words: int = 120


def documents(rng: np.random.Generator, p: DocProfile):
    """Synthetic corpus with the ``documents`` fixture schema. A
    ``near_dup_share`` of docs copy an earlier doc with ~5% of tokens
    changed (half of those also change letter case); a
    ``contamination_share`` embed a 12-token span of a held-out doc
    (the top 10% of ids). Returns (pandas.DataFrame, props)."""
    import pandas as pd

    langs, weights = zip(*p.lang_mix)
    n = p.n_docs
    lang = rng.choice(langs, n, p=np.array(weights) / sum(weights))
    held_out_from = int(n * 0.9)
    words: list[list[str]] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and i < held_out_from and kinds[i] < p.near_dup_share:
            src = list(words[int(rng.integers(0, i))])
            for j in rng.choice(len(src), max(1, len(src) // 20), replace=False):
                src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if kinds[i] < p.near_dup_share / 2:
                src = [w.upper() if k % 3 == 0 else w for k, w in enumerate(src)]
            words.append(src)
            continue
        k = int(rng.integers(p.min_words, p.max_words + 1))
        pool = VOCAB + LANG_WORDS[lang[i]] * 3
        words.append([pool[int(j)] for j in rng.integers(0, len(pool), k)])
    contaminated = 0
    for i in range(held_out_from):
        if rng.random() < p.contamination_share:
            src = words[int(rng.integers(held_out_from, n))]
            start = int(rng.integers(0, max(1, len(src) - 12)))
            words[i] = words[i][:10] + src[start:start + 12] + words[i][10:]
            contaminated += 1
    texts = [" ".join(w) for w in words]
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    props = {"n_docs": n, "near_dup_share": p.near_dup_share,
             "contamination_share": p.contamination_share,
             "contaminated_docs": contaminated, "lang_mix": dict(p.lang_mix)}
    return df, props


# --- embeddings ------------------------------------------------------------------

def embeddings(rng: np.random.Generator, n: int, dim: int, clusters: int, spread: float = 0.35):
    """Unit-norm float32 vectors around ``clusters`` random centres (so
    L2 and cosine rank alike). Returns (matrix, labels, centres, props)."""
    centres = rng.normal(size=(clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    x = centres[labels] + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim)) * np.sqrt(dim) / 4
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    props = {"n": n, "dim": dim, "clusters": clusters, "spread": spread}
    return x.astype(np.float32), labels, centres, props


def queries(rng: np.random.Generator, centres: np.ndarray, n: int, spread: float = 0.35) -> np.ndarray:
    """Query vectors drawn like the corpus but not in it."""
    dim = centres.shape[1]
    q = centres[rng.integers(0, len(centres), n)]
    q = q + rng.normal(scale=spread / np.sqrt(dim), size=q.shape) * np.sqrt(dim) / 4
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.astype(np.float32)
