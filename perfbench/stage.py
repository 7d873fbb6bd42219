"""Input generation: the benchmark deals the fixture tables into the source
files a run feeds to the engine, and writes a manifest the engine reads.
The engine receives only these files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# headline_batch: the ROADMAP's 23 headline queries — scan/agg, join,
# window, stateful, text, dedup, similarity and multimodal paths, one per
# native-walk family
HEADLINE = [
    "q1_pricing_summary", "j1_order_lineitem_join", "j3_interval_join",
    "j4_lookup_dim_join", "a1_tumble_count", "a2_keyed_window_reduce",
    "a4_uv_per_day", "a5_is_new_repair", "k5_upsert_latest_per_key",
    "u1_tokenize_explode", "text_quality", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_cdc_chunks", "text_kneser_ney", "sim_topk_bruteforce",
    "sim_lsh_ann", "sim_ivf_ann", "sim_knn_graph", "mm_decode_features",
    "p7_map_projection"]
# reference_stream, gmall phase — the offered load: ODS files per second,
# each of EVENTS_PER_FILE events. 8 x 625 = 5000 events/s, about half the
# capacity measured with every fixture event released at once (README.md).
FILES_PER_SECOND = 8.0
EVENTS_PER_FILE = 625
# reference_stream, corpus phase — the backlog: the sf0.1 corpus in doc_id
# order, in this many files; a run drains as many as fit in its time
BACKLOG_FILES = 10


def _mix(ids, seed):
    """Deterministic 64-bit hash of int64 ids under a seed (splitmix64)."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) + np.uint64(seed % 2**64) * np.uint64(
            0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _events(path):
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    # the engine's loader reads ts as UTC instants
    return t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("us", "UTC")))


def _write(tables, out_dir, prefix):
    os.makedirs(out_dir)
    files = []
    for i, t in enumerate(tables):
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(t, p)
        files.append({"path": p, "rows": t.num_rows})
    return files


def deal_events(src, n, keep, seed, out_dir):
    """Deals the events into `n` groups by a seeded hash of event_id and
    writes the first `keep` groups, one file each. Every group spans the
    whole event-time range, so arrival is out of event-time order."""
    t = _events(src)
    group = _mix(t.column("event_id").to_numpy(), seed) % np.uint64(n)
    return _write([t.filter(pa.array(group == g)) for g in range(keep)],
                  out_dir, "ods")


def split_docs(src, n, out_dir):
    """The corpus in doc_id order, in `n` contiguous files."""
    t = pq.read_table(src, columns=["doc_id", "text"]).sort_by("doc_id")
    bounds = np.linspace(0, t.num_rows, n + 1).round().astype(int)
    return _write([t.slice(a, b - a) for a, b in zip(bounds, bounds[1:])],
                  out_dir, "docs")


def stage(workload, fixtures, work, seed, seconds):
    """Writes the run's source files and `manifest.json`; returns its path."""
    m = {}
    if workload == "headline_batch":
        m["queries"] = HEADLINE
    else:
        src = os.path.join(fixtures, "sf0.1", "events.parquet")
        n = -(-pq.ParquetFile(src).metadata.num_rows // EVENTS_PER_FILE)
        keep = min(n, round(FILES_PER_SECOND * seconds))
        m["files"] = deal_events(src, n, keep, seed, os.path.join(work, "ods"))
        m["warm"] = deal_events(
            os.path.join(fixtures, "sf0.001", "events.parquet"), 2, 2, seed,
            os.path.join(work, "warm_ods"))
        m["files_per_second"] = FILES_PER_SECOND
        m["docs"] = split_docs(os.path.join(fixtures, "sf0.1",
                                            "documents.parquet"),
                               BACKLOG_FILES, os.path.join(work, "docs"))
        m["warm_docs"] = split_docs(os.path.join(fixtures, "sf0.001",
                                                 "documents.parquet"),
                                    1, os.path.join(work, "warm_docs"))
    path = os.path.join(work, "manifest.json")
    with open(path, "w") as f:
        json.dump(m, f)
    return path
