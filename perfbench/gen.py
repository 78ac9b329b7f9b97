"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

The same (workload, seed) always writes byte-identical inputs. The program
under test receives only these files:

- walmart_dag: train.csv, test.csv, stores.csv (bare-CR line endings) and
  features.csv (a literal "NA" markdown era), in the shape of
  pipeline.WalmartBench.synthesize with seeded values.
- corpus_dedup: documents.parquet and embeddings.parquet.
- event_stream: events.parquet.

The corpus tables have the parquet physical types and value distributions
of the sf0.1 test corpus: a 30-word vocabulary with 5 % near-duplicate
documents, unit-norm 64-d float embeddings, and time-ordered events with
exponential gaps, stored as TIMESTAMP(MICROS). Row counts are smaller than
sf0.1's 5,000 documents and 100,000 events, so a run fits several warm
iterations (see README.md). Keys are a seeded permutation, row order is
shuffled (events stay in time order, which the streaming queries'
watermarks depend on), and timestamps carry a seeded shift.
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 1
HELD_OUT_SEED = 7

# Walmart shape: WalmartBench's 115 train weeks (+ 10 test weeks), with
# fewer stores and departments (1/40 of its rows), so a run fits a cold and
# three warm DAG iterations; fewer store partitions keep the parquet file
# count down. README.md, "Sizing", has what this size measures.
STORES, DEPTS, WEEKS, TEST_WEEKS, FEATURE_WEEKS = 10, 9, 115, 10, 26
N_DOCS, N_VECS, N_EVENTS = 1000, 2000, 20_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def write_walmart(rng, out):
    start = dt.date(2010, 2, 5)
    dates = [(start + dt.timedelta(weeks=w)).isoformat()
             for w in range(WEEKS + FEATURE_WEEKS)]
    holiday = [w % 52 in (0, 31) for w in range(len(dates))]
    store_lvl = rng.uniform(5_000, 30_000, STORES)
    dept_lvl = rng.lognormal(0.0, 0.8, DEPTS)
    season = 1 + 0.25 * np.sin(np.arange(len(dates)) * 2 * np.pi / 52)
    lines = ["Store,Dept,Date,Weekly_Sales,IsHoliday"]
    for s in range(STORES):
        for d in range(DEPTS):
            noise = rng.normal(1.0, 0.08, WEEKS)
            for w in range(WEEKS):
                sales = store_lvl[s] * dept_lvl[d] * season[w] * noise[w]
                if holiday[w]:
                    sales *= 1.3
                lines.append(f"{s + 1},{d + 1},{dates[w]},{sales:.2f},"
                             f"{str(holiday[w]).lower()}")
    n_train = len(lines) - 1
    _write(out, "train.csv", "\n".join(lines) + "\n")
    lines = ["Store,Dept,Date,IsHoliday"]
    for s in range(STORES):
        for d in range(DEPTS):
            for w in range(WEEKS, WEEKS + TEST_WEEKS):
                lines.append(f"{s + 1},{d + 1},{dates[w]},"
                             f"{str(holiday[w]).lower()}")
    n_test = len(lines) - 1
    _write(out, "test.csv", "\n".join(lines) + "\n")
    sizes = rng.integers(40_000, 220_000, STORES)
    types = rng.choice(list("ABC"), STORES)
    _write(out, "stores.csv", "\r".join(
        ["Store,Type,Size"] +
        [f"{s + 1},{types[s]},{sizes[s]}" for s in range(STORES)]))
    lines = ["Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3,"
             "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday"]
    for s in range(STORES):
        temp = rng.normal(60, 15, len(dates))
        fuel = 2.5 + np.cumsum(rng.normal(0, 0.02, len(dates)))
        cpi = 210 + np.cumsum(rng.normal(0.05, 0.1, len(dates)))
        unemp = rng.uniform(4, 10) + np.cumsum(rng.normal(0, 0.01, len(dates)))
        for w, day in enumerate(dates):
            md = ["NA"] * 5
            if w >= 60:  # "NA" era first, like the reference corpus
                md = [f"{v:.2f}" if rng.random() < 0.7 else "NA"
                      for v in rng.exponential(2000, 5)]
            lines.append(f"{s + 1},{day},{temp[w]:.2f},{fuel[w]:.3f},"
                         f"{','.join(md)},{cpi[w]:.4f},{unemp[w]:.3f},"
                         f"{str(holiday[w]).lower()}")
    _write(out, "features.csv", "\n".join(lines) + "\n")
    return {"train_rows": n_train, "test_rows": n_test, "stores": STORES}


def write_documents(rng, out):
    n_tok = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in n_tok]
    # 5 % near-duplicates (an earlier text + " dup") and a few exact copies
    for i in rng.choice(np.arange(1, N_DOCS), N_DOCS // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, N_DOCS), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    order = rng.permutation(N_DOCS)
    table = pa.table({
        "doc_id": pa.array(rng.permutation(N_DOCS)[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)[order], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    vecs = rng.normal(0, 1, (N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    order = rng.permutation(N_VECS)
    table = pa.table({
        "vec_id": pa.array(rng.permutation(N_VECS), pa.int64()),
        "embedding": pa.array([v for v in vecs[order]], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })
    pq.write_table(table, os.path.join(out, "embeddings.parquet"))
    return {"documents_rows": N_DOCS, "embeddings_rows": N_VECS}


def write_events(rng, out):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    start += np.timedelta64(int(rng.integers(0, 86_400_000_000)), "us")
    gaps = rng.exponential(26.0, N_EVENTS) * 1e6
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(rng.permutation(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.permutation(1500)[rng.integers(0, 1500, N_EVENTS)],
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
                          pa.string()),
    })
    pq.write_table(table, os.path.join(out, "events.parquet"))
    return {"events_rows": N_EVENTS}


WRITERS = {"walmart_dag": write_walmart, "corpus_dedup": write_documents,
           "event_stream": write_events}


def _write(out, name, text):
    with open(os.path.join(out, name), "w", newline="") as fh:
        fh.write(text)


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns the expected counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(WRITERS).index(workload)])
    counts = WRITERS[workload](rng, out)
    with open(os.path.join(out, "counts.json"), "w") as fh:
        json.dump(counts, fh)
    return counts


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WRITERS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
