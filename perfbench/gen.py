"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query suite reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as
single-row-group parquet files with the schemas the suite expects:
TPC-H-like star schema, an `events` click stream with JSON `props`,
a `documents` corpus in which 5% of the rows are near-copies of another
row (the source text plus " dup"), and unit-norm 64-d label-clustered
`embeddings`. Same seed and scale give byte-identical tables.

`replicate` writes the envelope files, schedule and expected counts of
the replication workload instead.

Usage: python3 gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "cold", "large", "small", "green", "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def documents(rng, n):
    """n documents: 95% random word sequences, 5% a near-copy of one of them."""
    n_dup = n // 20
    n_base = n - n_dup
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_base)]
    texts += [texts[i] + " dup" for i in rng.integers(0, n_base, n_dup)]
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(out_dir, seed, sf, tables=None):
    """All tables (or only `tables`; the draws, and so the data, are the same)."""
    os.makedirs(out_dir, exist_ok=True)

    def write(name, table):
        if tables is None or name in tables:
            _write(out_dir, name, table)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(10, int(15000 * sf))
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    write("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}))
    write("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}))
    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}))
    pk = np.arange(n_part, dtype=np.int64)
    write("part", pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))}))
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}))
    write("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line))}))
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])}))
    write("documents", documents(rng, n_doc))
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}))


def replicate(out_dir, seed, spec, seconds):
    """Envelope files for the replication workload.

    Writes staged/<file>.parquet (files evenly spaced at each phase's
    interval over a timed schedule `seconds` long), manifest.tsv (file, phase, due offset
    ms from the start of the timed schedule), config/ (the active-region
    table) and expect.tsv (active streams, records gated out, malformed
    records forwarded). Records spread over the streams by weight; a
    `malformed_share` of payloads is not JSON, never as the last record
    of a stream. With `truncated_stream` set, the last file ends with a
    truncated record of that stream, which is then its last record.
    """
    rng = np.random.default_rng(seed)
    staged = os.path.join(out_dir, "staged")
    os.makedirs(staged, exist_ok=True)
    names = list(spec["streams"])
    weights = np.array([spec["streams"][n]["weight"] for n in names])
    config = [row for n in names for row in spec["streams"][n]["config"]]
    active = [n for n in names if len(spec["streams"][n]["config"]) == 1
              and spec["streams"][n]["config"][0][1].lower() == "us-east-1"]
    files, start = [], 0.0
    for ph in spec["phases"]:
        if "files" in ph:  # warm-up files, moved in before the timed schedule
            dues = [0.0] * ph["files"]
        else:  # the phase's `share` of the run's seconds at one file per interval_ms
            length = seconds * ph["share"] * 1000
            n_files = round(length / ph["interval_ms"])
            dues = (start + (np.arange(n_files) + 0.5) * ph["interval_ms"]).tolist()
            start += length
        files += [(f"{ph['name']}-{i:04d}.parquet", ph["name"], round(d, 1), ph["records"])
                  for i, d in enumerate(dues)]
    sizes = np.array([f[3] for f in files])
    n = int(sizes.sum())
    stream = rng.choice(len(names), size=n, p=weights / weights.sum())
    bad = rng.random(n) < spec["malformed_share"]
    truncated = spec.get("truncated_stream")
    keys = rng.integers(0, 10**10, n + 1)[:n + bool(truncated)]
    if truncated:  # the truncated record closes the last file
        stream = np.append(stream, names.index(truncated))
        bad = np.append(bad, True)
        sizes[-1] += 1
    seq = np.zeros(len(stream), dtype=np.int64)
    for s in range(len(names)):
        idx = np.flatnonzero(stream == s)
        seq[idx] = np.arange(len(idx))
        if len(idx) and idx[-1] != n:
            bad[idx[-1]] = False  # a stream's last record parses, except the truncated one
    ts = np.datetime64("2024-01-01T00:00:00", "s") + seq.astype("timedelta64[s]")
    ts_text = np.datetime_as_string(ts, unit="s")
    payload = [f'{{"key": {k}, "commitTimestamp": "{t}Z"}}' if not b else f"not-json-{k}"
               for k, t, b in zip(keys.tolist(), ts_text.tolist(), bad.tolist())]
    if truncated:
        payload[n] = f'{{"key": {keys[n]}, "commitTimestamp": "{ts_text[n][:10]}'
    is_active = np.isin(np.array(names)[stream], active)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    manifest = []
    for (fname, phase, due, _), lo, hi in zip(files, bounds[:-1], bounds[1:]):
        pq.write_table(pa.table({
            "data": pa.array([p.encode() for p in payload[lo:hi]], pa.binary()),
            "partitionKey": pa.array([str(k % 97) for k in keys[lo:hi].tolist()]),
            "sequenceNumber": pa.array([str(10**19 + q) for q in seq[lo:hi].tolist()]),
            "approximateArrivalTimestamp": pa.array(ts[lo:hi].astype("datetime64[us]"),
                                                    pa.timestamp("us", tz="UTC")),
            "streamName": pa.array(np.array(names)[stream[lo:hi]]),
        }), os.path.join(staged, fname))
        manifest.append(f"{fname}\t{phase}\t{due}")
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        f.write("\n".join(manifest) + "\n")
    os.makedirs(os.path.join(out_dir, "config"), exist_ok=True)
    pq.write_table(pa.table({"streamName": [r[0] for r in config],
                             "activeRegion": [r[1] for r in config]}),
                   os.path.join(out_dir, "config", "config.parquet"))
    with open(os.path.join(out_dir, "expect.tsv"), "w") as f:
        f.write(f"active\t{','.join(active)}\ngated_out\t{int((~is_active).sum())}\n"
                f"malformed\t{int((is_active & bad).sum())}\n")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
