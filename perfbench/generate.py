"""Seeded input generators for the workloads.

Everything here is pure Python/NumPy: the engine only ever receives the
files (or DataFrames) built from what these functions return, and the
generators also return the expected results the outputs are checked
against. The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import random

from mapping import RESOURCE_TYPES

# --------------------------------------------------------------------------
# export half of export_sync: an EPrints JSONL export and its vocabulary
# --------------------------------------------------------------------------
SUBJECT_CODES = 240  # codes drawn by the Zipf sampler
UNMAPPED_EVERY = 8  # every 8th code (S007, S015, ...) has no vocabulary entry
_WORDS = (
    "metadata repository migration archive digital library record thesis "
    "catalogue harvest schema identifier collection preservation scholarly "
    "open access journal article dataset citation research policy review"
).split()
_FAMILIES = (
    "Alpha Baker Chen Dubois Eta Fischer Garcia Hughes Ito Jensen Kowalski "
    "Lopez Muller Nakamura Okafor Petrov Quinn Rossi Silva Tanaka"
).split()
_GIVEN = "Ann Bo Carla Dev Ed Fatima Gus Hana Ivan Jo Kim Li Mo Nia".split()
_TYPES = list(RESOURCE_TYPES) + ["patent", "dataset"]  # last two -> Other
_FORMATS = ["application/pdf", "text/csv", "image/png", "text/plain"]


def subject_map() -> list[tuple[str, str]]:
    """(code, label) vocabulary; every UNMAPPED_EVERY-th code is absent."""
    return [
        (f"S{i:03d}", f"Subject {i:03d} {_WORDS[i % len(_WORDS)].title()}")
        for i in range(SUBJECT_CODES)
        if i % UNMAPPED_EVERY != UNMAPPED_EVERY - 1
    ]


def _zipf_index(rng: random.Random, weights_cum: list[float]) -> int:
    x = rng.random() * weights_cum[-1]
    lo, hi = 0, len(weights_cum) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if weights_cum[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return lo


def _messy_title(rng: random.Random) -> str:
    words = [rng.choice(_WORDS).title() for _ in range(rng.randint(3, 9))]
    # Runs of spaces/tabs inside and spaces at the ends: the transform
    # collapses the former and trims the latter.
    seps = [rng.choice([" ", " ", "  ", " \t "]) for _ in words[1:]]
    body = words[0] + "".join(s + w for s, w in zip(seps, words[1:]))
    return " " * rng.randint(0, 2) + body + " " * rng.randint(0, 2)


def eprint_record(rng: random.Random, eprintid: int, cum: list[float]) -> dict:
    """One EPrints record with the nested/multi-valued shape of a real
    export: ordered creators, Zipf-skewed distinct subject codes (some
    unmapped), semicolon keywords with empty segments, documents of
    which some carry main=null, and mixed-precision dates."""
    n_sub = rng.choice([0, 1, 1, 2, 2, 3, 4])
    codes: list[str] = []
    while len(codes) < n_sub:
        c = f"S{_zipf_index(rng, cum):03d}"
        if c not in codes:
            codes.append(c)
    year = rng.randint(1995, 2024)
    date = rng.choice(
        [f"{year}", f"{year}-{rng.randint(1, 12):02d}",
         f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"]
    )
    kw = [rng.choice(_WORDS) for _ in range(rng.randint(0, 4))]
    keywords = rng.choice(["; ", ";", " ;", ";; "]).join(kw) + rng.choice(
        ["", ";", "; "]
    )
    docs = [
        {
            "main": None if rng.random() < 0.1 else f"file{eprintid}_{j}.pdf",
            "format": rng.choice(_FORMATS),
            "filesize": rng.randint(1_000, 5_000_000),
            "security": rng.choice(["public", "staffonly"]),
        }
        for j in range(rng.choice([0, 1, 1, 2, 3]))
    ]
    abstract = None
    if rng.random() < 0.85:
        abstract = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 40)))
        if rng.random() < 0.2:
            abstract += "\nSecond paragraph, with a comma and \"quotes\"."
    return {
        "eprintid": eprintid,
        "eprint_status": rng.choice(["archive", "archive", "buffer", "inbox"]),
        "type": rng.choice(_TYPES),
        "title": _messy_title(rng),
        "abstract": abstract,
        "date": date,
        "ispublished": rng.choice(["pub", "inpress", "unpub"]),
        "creators": [
            {
                "family": rng.choice(_FAMILIES),
                "given": None if rng.random() < 0.05 else rng.choice(_GIVEN),
                "id": f"c{rng.randint(1, 99999)}",
            }
            for _ in range(rng.randint(1, 5))
        ],
        "subjects": codes,
        "keywords": keywords,
        "official_url": (
            f"https://doi.org/10.{rng.randint(1000, 9999)}/{eprintid}"
            if rng.random() < 0.6 else None
        ),
        "documents": docs,
    }


def eprints_export(seed: int, n_records: int) -> list[dict]:
    """The seeded export, in export order (ids shuffled, as a repository
    dump orders by last modification, not by id)."""
    rng = random.Random(f"eprints:{seed}")
    cum, acc = [], 0.0
    for i in range(SUBJECT_CODES):
        acc += 1.0 / (i + 1) ** 1.1
        cum.append(acc)
    ids = list(range(1, n_records + 1))
    rng.shuffle(ids)
    return [eprint_record(rng, i, cum) for i in ids]


def export_counts(records: list[dict]) -> dict:
    """The two referential-integrity report sizes the generator knows."""
    mapped = {c for c, _ in subject_map()}
    return {
        "unmapped_subjects": sum(
            1 for r in records for c in r["subjects"] if c not in mapped
        ),
        "null_main_documents": sum(
            1 for r in records for d in r["documents"] if d["main"] is None
        ),
    }


def write_jsonl(records: list[dict], path: str) -> int:
    with open(path, "w", encoding="utf-8") as fh:
        for r in records:
            fh.write(json.dumps(r, separators=(",", ":")) + "\n")
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# sync half of export_sync: a Bulkrax-row table and its delta batches
# --------------------------------------------------------------------------
LEDGER_COLUMNS = ("eprintid", "title", "creator", "subject", "date_created", "file")


def _ledger_row(rng: random.Random, eprintid: int, rev: int) -> tuple:
    return (
        eprintid,
        f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS)} r{rev}",
        f"{rng.choice(_FAMILIES)}, {rng.choice(_GIVEN)}",
        "|".join(f"Subject {rng.randint(0, 239):03d}" for _ in range(rng.randint(0, 3))),
        f"{rng.randint(1995, 2024)}-{rng.randint(1, 12):02d}-01",
        f"file{eprintid}.pdf" if rng.random() < 0.8 else "",
    )


def ledger_plan(
    seed: int, base_rows: int, base_groups: int, steps: int, delta_rows: int
) -> dict:
    """The ledger sync input and its expected states.

    Returns ``base`` (key-ordered row chunks, one file group each),
    ``steps`` (per step: the delta rows, the withdrawn ids to delete or
    None, and the lookup ranges), and ``states`` (the expected row set
    after every step, keyed by step index; index 0 is the base).

    The seed changes values, never the table's physical shape, so every
    seed does the same storage work: 70% of a delta updates ids skewed
    toward the most recent (exponential, inside the newest half group,
    so each merge rewrites exactly the newest group) and 30% inserts new
    ids above them; every second step withdraws 40 ids spread over all
    groups; each 50-key lookup range lies inside one of the older
    groups, so it scans exactly one."""
    rng = random.Random(f"ledger:{seed}")
    table = {i: _ledger_row(rng, i, 0) for i in range(1, base_rows + 1)}
    chunk = -(-base_rows // base_groups)
    keys = sorted(table)
    base = [
        [table[k] for k in keys[i:i + chunk]]
        for i in range(0, base_rows, chunk)
    ]
    states = {0: dict(table)}
    next_id = base_rows + 1
    window = chunk // 2
    plan_steps = []
    for s in range(1, steps + 1):
        live = sorted(table)
        n_ins = int(delta_rows * 0.3)
        upd: set[int] = set()
        while len(upd) < delta_rows - n_ins:
            back = int(rng.expovariate(5.0 / window))
            if back < window:
                upd.add(live[-1 - back])
        ins = list(range(next_id, next_id + n_ins))
        next_id += n_ins
        delta = [_ledger_row(rng, k, s) for k in sorted(upd) + ins]
        for row in delta:
            table[row[0]] = row
        withdrawn = None
        if s % 2 == 0:
            withdrawn = sorted(
                k for g in range(base_groups)
                for k in rng.sample(keys[g * chunk:(g + 1) * chunk], 40 // base_groups)
            )
            for k in withdrawn:
                table.pop(k, None)
        lookups = []
        for _ in range(3):
            lo = rng.randrange(base_groups - 1) * chunk + 1 + rng.randrange(chunk - 49)
            lookups.append((lo, lo + 49))
        plan_steps.append(
            {"delta": delta, "withdrawn": withdrawn, "lookups": lookups}
        )
        states[s] = dict(table)
    return {"base": base, "steps": plan_steps, "states": states}


def user_bytes(rows) -> int:
    """Logical bytes of a row set: 8 per key plus the UTF-8 length of
    every string column — the denominator of stored-bytes ratios."""
    return sum(
        8 + sum(len(v.encode("utf-8")) for v in r[1:]) for r in rows
    )


# --------------------------------------------------------------------------
# analytics_mix: the ten fixture tables the registered queries read
# --------------------------------------------------------------------------
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter"
).split()


def analytics_tables(seed: int, scale: int) -> dict:
    """pyarrow tables with the fixture schemas (customer = 150 x scale,
    orders = 1 500 x scale, lineitem ~ 4 per order, events = 1 000 x
    scale; 500 documents and 500 embeddings). Sizes and shapes are
    fixed; the seed only changes values."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev = 1500 * scale, 1000 * scale
    day0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86_400_000_000, "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = ["small", "red", "large", "blue", "steel", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
    })
    odate = day0 + rng.integers(0, 2404, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "F", "O"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            odate[lkey] + rng.integers(1, 122, n_li) * day, pa.timestamp("us")
        ),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 15 * scale, n_ev).astype(np.int64),
        "event_type": rng.choice(["error", "signup", "purchase", "view", "click"], n_ev),
        "value": money(0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 425 originals, then 75 near-duplicates of distinct originals with
    # two words replaced: every duplicate cluster is a pair, so the
    # near-duplicate graph has the same shape for every seed.
    texts = [
        " ".join(rng.choice(_DOC_VOCAB, int(rng.integers(30, 100))))
        for _ in range(425)
    ]
    for src in rng.choice(425, 75, replace=False):
        words = texts[src].split()
        for j in rng.choice(len(words), 2, replace=False):
            words[j] = _DOC_VOCAB[int(rng.integers(0, len(_DOC_VOCAB)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(500, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["es", "zh", "de", "fr", "en"], 500),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, 500)
    vecs = centers[labels] + rng.normal(0, 0.6, (500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(tables: dict, out_dir: str) -> int:
    """One parquet file per table; returns the total bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total
