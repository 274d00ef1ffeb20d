"""Seeded input generators for the benchmark.

Everything the engine reads comes from here and depends only on the
seed and the size arguments: the star-schema catalog (same table
names, column names and Arrow types as the engine's catalog expects),
the document corpus with planted exact and near duplicates, and the
telemetry frame files with their ground truth.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Tables large enough that scan parallelism matters are written as a
# directory of part files, the layout a multi-file production table
# has; the dimension tables stay single files.
PART_FILES = 4
LARGE = {"customer", "part", "orders", "lineitem", "events", "documents",
         "embeddings"}

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, lo, hi, n):
    """Midnight timestamps uniform over [lo, hi] as datetime64[us]."""
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def corpus(rng, n_docs, exact_share, near_share):
    """Random-word documents; `exact_share` of them copy an earlier
    document verbatim and `near_share` copy any other document with a
    trailing ' dup' token (the shape the dedup tiers must catch)."""
    wc = rng.integers(10, 101, n_docs)
    texts = [" ".join(_pick(rng, WORDS, k)) for k in wc]
    kind = rng.choice(3, n_docs, p=[1 - exact_share - near_share,
                                    exact_share, near_share])
    for i in range(1, n_docs):
        if kind[i] == 1:
            texts[i] = texts[int(rng.integers(0, i))]
    for i in np.flatnonzero(kind == 2):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def catalog_tables(seed, sf, n_docs, exact_share=0.002, near_share=0.05):
    """All ten catalog tables as Arrow tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_emb, n_users = max(100, int(20000 * sf)), max(10, int(15000 * sf))
    i64 = lambda n: np.arange(n, dtype=np.int64)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": i64(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": i64(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": i64(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": i64(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": i64(n_ev),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = corpus(rng, n_docs, exact_share, near_share)
    t["documents"] = pa.table({
        "doc_id": i64(n_docs),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(n_emb),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_catalog(out_dir, seed, sf, n_docs):
    """Write the catalog under `out_dir`; returns total input bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in catalog_tables(seed, sf, n_docs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in LARGE:
            os.makedirs(path, exist_ok=True)
            step = -(-table.num_rows // PART_FILES)
            for k in range(PART_FILES):
                f = os.path.join(path, f"part-{k:05d}.parquet")
                pq.write_table(table.slice(k * step, step), f)
                total += os.path.getsize(f)
        else:
            pq.write_table(table, path)
            total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------- telemetry

ROUND_S = 900            # four reading rounds per hour
ROUNDS_PER_HOUR = 3600 // ROUND_S
T0 = 1704067200          # 2024-01-01T00:00:00Z


def frames(seed, n_files, late_rounds, n_devices=100, group=20, p_hour_gap=0.4,
           p_round_skip=0.03, p_retry=0.15, p_late=0.1, p_error=0.2):
    """Frame files for the telemetry stream, one reading round per file.

    Each line is `<device epoch seconds>|<tag><json>`. A round's
    readings travel as D frames of `group` devices; frames are retried
    (the same line again, in this file or the next), some hours lose one
    to three devices entirely (those hours are partial and belong in the
    DLQ), single rounds are skipped, E frames report errors, file 0
    carries the S setup frame, and late D frames for a round
    `late_rounds` back carry weights that must never reach the output.
    A stateful operator drops rows behind the watermark of the batch
    before last, so `late_rounds` must exceed twice the files one batch
    may read for that to hold under any batching. A final
    sentinel file three hours ahead moves the watermark past every real
    hour so that all of them are emitted.

    Returns (files, truth): `files` is a list of line lists and `truth`
    holds the expected data and DLQ rows as
    (hour_epoch_s, device_code, avg_g, max_g, n_readings) tuples.
    """
    rng = np.random.default_rng(seed + 7919)
    devices = [f"H{d:04d}" for d in range(1, n_devices + 1)]
    weights = rng.integers(20000, 40000, n_devices).astype(np.int64)
    n_hours = -(-n_files // ROUNDS_PER_HOUR)
    absent = {}
    for h in range(n_hours):
        k = int(rng.integers(1, 4)) if rng.random() < p_hour_gap else 0
        absent[h] = set(rng.choice(n_devices, k, replace=False).tolist())
    files, pending, seen = [], [], {}
    for i in range(n_files):
        h, ts = i // ROUNDS_PER_HOUR, T0 + i * ROUND_S
        weights += rng.integers(-300, 301, n_devices)
        weights = np.maximum(weights, 1)
        lines = list(pending)
        pending = []
        if i == 0:
            lines.append(f"{ts}|S" + json.dumps(
                {d: True for d in devices}, separators=(",", ":")))
        for g in range(0, n_devices, group):
            doc = {}
            for d in range(g, min(g + group, n_devices)):
                if d in absent[h] or rng.random() < p_round_skip:
                    continue
                doc[devices[d]] = {"w": int(weights[d])}
                seen[(devices[d], i)] = int(weights[d])
            if not doc:
                continue
            line = f"{ts + g // group}|D" + json.dumps(doc, separators=(",", ":"))
            lines.append(line)
            if rng.random() < p_retry:
                (lines if rng.random() < 0.5 else pending).append(line)
        if rng.random() < p_error:
            d = devices[int(rng.integers(0, n_devices))]
            lines.append(f"{ts}|E" + json.dumps(
                {d: {"w": 0, "p": 0, "s": 1}}, separators=(",", ":")))
        if i >= late_rounds and rng.random() < p_late:
            late_ts = T0 + (i - late_rounds) * ROUND_S
            doc = {d: {"w": 1} for d in devices[:group]}
            lines.append(f"{late_ts}|D" + json.dumps(doc, separators=(",", ":")))
        files.append(lines)
    sentinel_ts = T0 + (n_hours + 3) * 3600
    files.append(pending + [f"{sentinel_ts}|D" + json.dumps(
        {devices[0]: {"w": 1}}, separators=(",", ":"))])
    truth = {"data": [], "dlq": []}
    per_hour = {}
    for (dev, i), w in seen.items():
        per_hour.setdefault(i // ROUNDS_PER_HOUR, {}).setdefault(dev, []).append(w)
    for h, by_dev in sorted(per_hour.items()):
        side = "data" if len(by_dev) >= n_devices else "dlq"
        for dev, ws in sorted(by_dev.items()):
            truth[side].append((T0 + h * 3600, dev, sum(ws) / len(ws),
                                float(max(ws)), len(ws)))
    return files, truth


def write_frames(stage_dir, files):
    """One text file per round, mtimes strictly increasing in file order
    so the file source reads them in generation order."""
    os.makedirs(stage_dir, exist_ok=True)
    base = 1_600_000_000
    for i, lines in enumerate(files):
        p = os.path.join(stage_dir, f"f{i:06d}.txt")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (base + i, base + i))
    return sum(len(x) for x in files)
