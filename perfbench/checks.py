"""Correctness checks of pipeline outputs against planted truth.

Each check returns ``(name, ok, detail)``; the caller counts a false
``ok`` as a failed operation. Checks read outputs with pyarrow or
take small collected frames, never re-running the pipeline.
"""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

#: a labelled cluster medoid must sit within this distance of its
#: planted anchor (stay jitter is at most ~3.5 m from the anchor)
MATCH_M = 8.0
M_PER_DEG = 111_320.0


def parquet_rows(path: str) -> int:
    """Row count of a parquet dataset from file footers only."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in parquet_files(path)
    )


def parquet_files(path: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def read_table(path: str, columns: list[str]):
    """Read ``columns`` of every data file under ``path`` (partition
    directories are not turned into columns)."""
    import pyarrow as pa

    tables = [pq.read_table(f, columns=columns) for f in parquet_files(path)]
    return pa.concat_tables(tables) if tables else None


def _near(lat, lon, anchor) -> bool:
    if anchor is None or lat is None or lon is None:
        return False
    if isinstance(lat, float) and math.isnan(lat):
        return False
    dlat = (lat - anchor[0]) * M_PER_DEG
    dlon = (lon - anchor[1]) * M_PER_DEG * math.cos(math.radians(anchor[0]))
    return math.hypot(dlat, dlon) <= MATCH_M


def hw_match(wide: dict, truth: dict) -> tuple[float, list[str]]:
    """Share of planted users whose home AND work match.

    ``wide`` maps uid -> (h_lat, h_lon, w_lat, w_lon). A planted
    work anchor must be matched by the work medoid; a user planted
    without work must have no work label. Returns the share and the
    uids that missed."""
    missed = []
    for uid, t in truth["users"].items():
        row = wide.get(uid)
        if row is None:
            missed.append(uid)
            continue
        h_lat, h_lon, w_lat, w_lon = row
        home_ok = _near(h_lat, h_lon, t["home"])
        if t["work"] is None:
            work_ok = w_lat is None or (
                isinstance(w_lat, float) and math.isnan(w_lat)
            )
        else:
            work_ok = _near(w_lat, w_lon, t["work"])
        if not (home_ok and work_ok):
            missed.append(uid)
    return 1.0 - len(missed) / max(1, len(truth["users"])), missed


def wide_from_table(table) -> dict:
    d = table.to_pydict()
    return {
        u: (a, b, c, e)
        for u, a, b, c, e in zip(
            d["uid"], d["h_lat"], d["h_lon"], d["w_lat"], d["w_lon"]
        )
    }


def check_hw(wide: dict, truth: dict):
    share, missed = hw_match(wide, truth)
    return (
        "home_work_match",
        not missed,
        f"hw_match_share={share:.4f} missed={missed[:5]}",
    ), share


def check_stop_counts(per_user: dict, truth: dict):
    """Per-user stop-event count equals the planted stays."""
    bad = [
        (u, per_user.get(u, 0), t["stays"])
        for u, t in truth["users"].items()
        if per_user.get(u, 0) != t["stays"]
    ]
    extra = sorted(set(per_user) - set(truth["users"]))
    return (
        "stop_events_per_user",
        not bad and not extra,
        f"mismatched={bad[:5]} unknown_uids={extra[:5]}",
    )


def check_rows_dropped(rows_in: int, rows_out: int, truth: dict):
    dropped = rows_in - rows_out
    return (
        "ingest_rows_dropped",
        dropped == truth["bad_rows"],
        f"dropped={dropped} planted_bad={truth['bad_rows']}",
    ), dropped


def check_corpus(kept_ids: set, truth: dict):
    """Dedup + filter checks. Returns (checks, dup_recall)."""
    lost = [i for i in truth["distinct"] if i not in kept_ids]
    empty = [c for c in truth["clusters"] if not any(i in kept_ids for i in c)]
    junk_kept = [i for i in truth["junk"] if i in kept_ids]
    removable = sum(len(c) - 1 for c in truth["clusters"])
    removed = sum(sum(i not in kept_ids for i in c) for c in truth["clusters"])
    recall = removed / max(1, removable)
    checks = [
        ("distinct_docs_kept", not lost, f"removed_distinct={lost[:5]}"),
        ("dup_clusters_keep_one", not empty, f"emptied={empty[:3]}"),
        ("junk_docs_dropped", not junk_kept, f"junk_kept={junk_kept[:5]}"),
    ]
    return checks, recall


def _byte_decoder() -> dict[str, int]:
    """Inverse of byte-level BPE's byte -> printable-unicode map."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    enc = {b: chr(b) for b in keep}
    k = 0
    for b in range(256):
        if b not in enc:
            enc[b] = chr(256 + k)
            k += 1
    return {u: b for b, u in enc.items()}


def token_bytes(vocab_path: str) -> tuple[list[bytes], int]:
    """Bytes of every vocab id, and the end-of-text id (the first id
    after the vocab, where special tokens are registered)."""
    with open(vocab_path, encoding="utf-8") as f:
        vocab = json.load(f)
    dec = _byte_decoder()
    out = [b""] * (max(vocab.values()) + 1)
    for tok, i in vocab.items():
        out[i] = bytes(dec[c] for c in tok)
    return out, len(out)


def check_pack(packed, texts: set, seq_len: int, num_shards: int, vocab_path: str,
               token_counts):
    """Every packed window is exactly ``seq_len`` tokens, and every
    complete document segment of each shard's stream decodes to a
    kept document, each at most once. A shard drops only its tail,
    shorter than one window, so the kept documents missing from the
    windows are exactly: one document per shard whose start is the
    shard's trailing partial segment, plus whole documents short
    enough to fit in a dropped tail; and the dropped tokens (each
    document followed by one end-of-text token) come to less than
    ``seq_len`` per shard. ``token_counts(texts)`` returns the token
    count of each text."""
    tb, eot = token_bytes(vocab_path)
    d = packed.to_pydict()
    short = sum(1 for n in d["n_tokens"] if n != seq_len)
    order = sorted(range(len(d["shard"])), key=lambda i: (d["shard"][i], d["seq_id"][i]))
    streams: dict[int, list] = {}
    for i in order:
        streams.setdefault(d["shard"][i], []).append(
            np.asarray(d["token_ids"][i], dtype=np.int64)
        )
    seen, foreign, dup = set(), 0, 0
    partials = []  # (bytes, tokens) after each shard's last eot
    for parts in streams.values():
        arr = np.concatenate(parts)
        ids = arr.tolist()
        start = 0
        for c in np.flatnonzero(arr == eot).tolist():
            text = b"".join(map(tb.__getitem__, ids[start:c])).decode("utf-8", "replace")
            start = c + 1
            if text not in texts:
                foreign += 1
            elif text in seen:
                dup += 1
            seen.add(text)
        if start < len(ids):
            partials.append((b"".join(map(tb.__getitem__, ids[start:])), len(ids) - start))
    missing = sorted(texts - seen)
    counts = dict(zip(missing, token_counts(missing)))
    # each partial segment opens a distinct missing document, whose
    # rest (and its eot) lies in the dropped tail
    unmatched, cut = 0, {}
    for head, n in partials:
        doc = next(
            (t for t in missing if t not in cut and t.encode("utf-8").startswith(head)),
            None,
        )
        if doc is None or not 0 < counts[doc] + 1 - n < seq_len:
            unmatched += 1
        else:
            cut[doc] = n
    too_long = sum(1 for t in missing if t not in cut and counts[t] + 1 >= seq_len)
    dropped = sum(counts[t] + 1 for t in missing) - sum(cut.values())
    ok = (
        not short and not foreign and not dup and not unmatched and not too_long
        and len(partials) <= num_shards
        and 0 <= dropped <= num_shards * (seq_len - 1)
    )
    return (
        "pack_segments",
        ok,
        f"short_windows={short} foreign={foreign} dup={dup} "
        f"missing={len(missing)} cut={len(cut)} unmatched_partials={unmatched} "
        f"whole_missing_too_long={too_long} dropped_tokens={dropped} "
        f"kept={len(texts)}",
    )
