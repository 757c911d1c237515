"""Seeded input generators with planted ground truth.

Every generator is a pure function of ``(seed, size)``: the same
arguments give byte-identical inputs and the same truth. Inputs are
written once per ``(workload, seed, size)`` under the work directory
and reused, so generation never lands inside a timed region.

Mobility truth is planted in *local* ``America/Mexico_City`` time:

- each user has a home anchor (every night, weekend afternoons), an
  optional work anchor (weekdays, starting 08:00-09:00) and several
  "other" anchors visited in round-robin so that none of them can
  reach the 0.5 date-share thresholds of home/work labeling;
- stay jitter is at most ``JITTER_M`` per axis, so consecutive stay
  pings are at most ~7 m apart, well inside ``r1 = r2 = 10 m``;
- anchors are at least ``MIN_ANCHOR_SEP_M`` apart and every transit
  step is longer than ``MIN_ANCHOR_SEP_M / 5``, far beyond ``r1``;
- every stay has at least three pings and lasts at least 15 minutes,
  so each one is exactly one stop event;
- some stay pings are duplicated at the same timestamp, and (vendor
  layout only) some rows carry ``error >= 20`` and must be dropped
  by ingest.

Corpus truth: near-duplicate clusters whose members differ from the
cluster base in one word (3-shingle Jaccard ~0.95 to the base, ~0.9
between members), distinct documents drawn independently from a
large vocabulary (Jaccard ~0), and a few short junk documents that
the Gopher rules must drop.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TZ = "America/Mexico_City"
#: window start: a Monday, local midnight
START_DATE = datetime(2024, 3, 4)
JITTER_M = 2.5
MIN_ANCHOR_SEP_M = 300.0
M_PER_DEG = 111_320.0
HOUR = 3600

#: English stopwords the Gopher rule counts; mixed into every document
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"]


@dataclass(frozen=True)
class MobilitySize:
    users: int
    days: int
    work_share: float  # share of users with a work anchor
    others: int  # "other" anchors per user
    ping_min_s: int  # stay ping interval range
    ping_max_s: int
    dense: bool  # extra daily stays (coffee, lunch, second work)
    bad_share: float  # error >= 20 rows, vendor layout only
    dup_share: float  # duplicated stay pings


# Many short sparse users against few long dense ones. The staged
# size is kept small because its four CLI plans cost ~8 s per
# iteration even on tiny inputs; the dense size holds ~4x its pings.
MOBILITY_SIZES = {
    "mobility_staged": MobilitySize(
        users=40, days=7, work_share=0.8, others=5,
        ping_min_s=900, ping_max_s=2700, dense=False,
        bad_share=0.01, dup_share=0.005,
    ),
    "mobility_dense": MobilitySize(
        users=8, days=56, work_share=0.75, others=40,
        ping_min_s=300, ping_max_s=900, dense=True,
        bad_share=0.0, dup_share=0.005,
    ),
}


@dataclass(frozen=True)
class CorpusSize:
    distinct: int  # planted-distinct documents
    clusters: int  # near-duplicate clusters
    cluster_min: int  # members per cluster, base included
    cluster_max: int
    junk: int  # short documents the Gopher rules drop
    words_min: int
    words_max: int
    vocab: int


CORPUS_SIZES = {
    "corpus_curate": CorpusSize(
        distinct=300, clusters=40, cluster_min=2, cluster_max=4,
        junk=20, words_min=120, words_max=220, vocab=6000,
    ),
}


def _local_offsets(days: int) -> np.ndarray:
    """UTC offset in seconds of each local day (noon), so DST rules,
    if the zone had any in the window, are honoured."""
    tz = ZoneInfo(TZ)
    return np.array(
        [
            int(
                (START_DATE + timedelta(days=d, hours=12))
                .replace(tzinfo=tz)
                .utcoffset()
                .total_seconds()
            )
            for d in range(days + 1)
        ],
        dtype=np.int64,
    )


def _local_epoch0() -> int:
    """Epoch of START_DATE's wall clock read as UTC."""
    return int((START_DATE - datetime(1970, 1, 1)).total_seconds())


def _anchors(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` anchor (lat, lon) pairs around Mexico City, pairwise at
    least MIN_ANCHOR_SEP_M apart; row 0 is home."""
    home = np.array(
        [rng.uniform(19.25, 19.55), rng.uniform(-99.25, -98.95)]
    )
    pts = [home]
    while len(pts) < n:
        dist = rng.uniform(600.0, 9000.0)
        bearing = rng.uniform(0.0, 2 * math.pi)
        dlat = dist * math.cos(bearing) / M_PER_DEG
        dlon = dist * math.sin(bearing) / (
            M_PER_DEG * math.cos(math.radians(home[0]))
        )
        cand = home + np.array([dlat, dlon])
        if all(_dist_m(cand, p) >= MIN_ANCHOR_SEP_M for p in pts):
            pts.append(cand)
    return np.array(pts)


def _dist_m(a: np.ndarray, b: np.ndarray) -> float:
    """Equirectangular distance in meters (ample at city scale)."""
    dlat = (a[0] - b[0]) * M_PER_DEG
    dlon = (a[1] - b[1]) * M_PER_DEG * math.cos(math.radians(a[0]))
    return math.hypot(dlat, dlon)


def _day_stays(
    rng: np.random.Generator,
    size: MobilitySize,
    weekday: int,
    worker: bool,
    other_next,
) -> list[tuple[int, float, float]]:
    """Stays after the morning home stay of one local day, as
    ``(anchor, start_h, end_h)``; anchor 0 = home, 1 = work,
    >= 2 other. The last stay is home, open-ended (closed by the next
    day's first departure)."""
    u = rng.uniform
    stays: list[tuple[int, float, float]] = []
    if weekday < 5 and worker:
        if size.dense:
            stays.append((other_next(), u(7.3, 7.4), u(7.6, 7.75)))
            stays.append((1, u(8.0, 9.0), u(11.9, 12.3)))
            stays.append((other_next(), u(12.6, 12.9), u(13.4, 13.8)))
            stays.append((1, u(14.1, 14.5), u(17.0, 17.7)))
        else:
            stays.append((1, u(8.0, 9.0), u(17.0, 17.5)))
        stays.append((other_next(), u(19.0, 19.4), u(20.1, 20.5)))
        stays.append((0, u(21.0, 22.0), None))
    elif weekday < 5:
        stays.append((other_next(), u(10.5, 11.5), u(17.5, 18.2)))
        if size.dense:
            stays.append((other_next(), u(18.5, 18.7), u(19.0, 19.2)))
        stays.append((other_next(), u(19.5, 19.8), u(20.2, 20.5)))
        stays.append((0, u(21.0, 22.0), None))
    else:
        if size.dense:
            stays.append((other_next(), u(10.0, 10.5), u(11.2, 11.6)))
        stays.append((other_next(), u(12.0, 13.0), u(15.0, 15.6)))
        if size.dense:
            stays.append((other_next(), u(15.9, 16.1), u(16.4, 16.6)))
        stays.append((0, u(17.0, 17.5), None))
    return stays


def _departure_h(
    rng: np.random.Generator, size: MobilitySize, weekday: int, worker: bool
) -> float:
    """Local hour at which the morning home stay ends."""
    if weekday < 5 and worker:
        return rng.uniform(6.8, 7.1) if size.dense else rng.uniform(7.0, 7.6)
    if weekday < 5:
        return rng.uniform(9.5, 10.0)
    return rng.uniform(9.2, 9.6) if size.dense else rng.uniform(10.5, 11.3)


def mobility(workload: str, seed: int) -> tuple[dict, dict]:
    """Generate pings for ``workload``. Returns ``(columns, truth)``:
    ``columns`` maps uid/latitude/longitude/timestamp (UTC epoch
    seconds)/error to numpy arrays, with planted bad rows included;
    ``truth`` is JSON-ready."""
    size = MOBILITY_SIZES[workload]
    rng = np.random.default_rng([seed, 1])
    offsets = _local_offsets(size.days)
    epoch0 = _local_epoch0()
    cols = {k: [] for k in ("uid", "latitude", "longitude", "timestamp")}
    truth_users = {}
    n_workers = int(round(size.users * size.work_share))
    for ui in range(size.users):
        uid = f"u{ui:05d}"
        worker = ui < n_workers
        anchors = _anchors(rng, 2 + size.others)
        # round-robin over the other anchors from a random start, so
        # no other anchor can collect a labeling-relevant date share
        rr = {"i": int(rng.integers(size.others))}

        def other_next() -> int:
            rr["i"] = (rr["i"] + 1) % size.others
            return 2 + rr["i"]

        # a timeline of (anchor, start_local_s, end_local_s); local
        # seconds count from START_DATE 00:00 wall clock
        timeline: list[list] = [[0, 0.0, None]]
        for d in range(size.days):
            wd = (START_DATE + timedelta(days=d)).weekday()
            base = d * 24 * HOUR
            timeline[-1][2] = base + _departure_h(rng, size, wd, worker) * HOUR
            for a, s, e in _day_stays(rng, size, wd, worker, other_next):
                timeline.append(
                    [a, base + s * HOUR, None if e is None else base + e * HOUR]
                )
        timeline[-1][2] = size.days * 24 * HOUR + 7.0 * HOUR
        lat, lon, ts = _emit(rng, size, anchors, timeline)
        # local wall-clock seconds -> UTC epoch via each day's offset
        day = np.minimum((ts // (24 * HOUR)).astype(np.int64), size.days)
        utc = epoch0 + ts.astype(np.int64) - offsets[day]
        cols["uid"].append(np.full(len(utc), uid, dtype=object))
        cols["latitude"].append(lat)
        cols["longitude"].append(lon)
        cols["timestamp"].append(utc)
        truth_users[uid] = {
            "stays": len(timeline),
            "home": anchors[0].tolist(),
            "work": anchors[1].tolist() if worker else None,
        }
    out = {k: np.concatenate(v) for k, v in cols.items()}
    n = len(out["timestamp"])
    out["error"] = rng.uniform(3.0, 19.5, n)
    n_bad = int(round(n * size.bad_share))
    if n_bad:
        # bad rows: random users and times, far-off positions, error
        # in [20, 80] with the boundary value 20.0 itself included
        pick = rng.integers(0, n, n_bad)
        bad_err = rng.uniform(20.0, 80.0, n_bad)
        bad_err[: max(1, n_bad // 10)] = 20.0
        out = {
            "uid": np.concatenate([out["uid"], out["uid"][pick]]),
            "latitude": np.concatenate(
                [out["latitude"], out["latitude"][pick] + rng.uniform(-0.02, 0.02, n_bad)]
            ),
            "longitude": np.concatenate(
                [out["longitude"], out["longitude"][pick] + rng.uniform(-0.02, 0.02, n_bad)]
            ),
            "timestamp": np.concatenate(
                [out["timestamp"], out["timestamp"][pick] + rng.integers(-600, 600, n_bad)]
            ),
            "error": np.concatenate([out["error"], bad_err]),
        }
    perm = rng.permutation(len(out["timestamp"]))
    out = {k: v[perm] for k, v in out.items()}
    truth = {
        "workload": workload,
        "seed": seed,
        "tz": TZ,
        "days": size.days,
        "rows": int(len(out["timestamp"])),
        "bad_rows": n_bad,
        "users": truth_users,
    }
    return out, truth


def _emit(
    rng: np.random.Generator,
    size: MobilitySize,
    anchors: np.ndarray,
    timeline: list[list],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pings for one user's timeline: jittered stay pings (at least
    three per stay, some duplicated) and 2-4 transit pings on the
    straight line between consecutive anchors."""
    lat_parts, lon_parts, ts_parts = [], [], []
    cos_home = math.cos(math.radians(anchors[0][0]))
    for i, (a, s, e) in enumerate(timeline):
        n = max(3, int((e - s) / rng.uniform(size.ping_min_s, size.ping_max_s)) + 1)
        t = np.linspace(s, e, n)
        t[1:-1] += rng.uniform(-0.2, 0.2, n - 2) * (e - s) / n
        t = np.sort(np.round(t))
        n_dup = rng.binomial(n, size.dup_share)
        if n_dup:
            t = np.sort(np.concatenate([t, rng.choice(t, n_dup)]))
        jit = rng.uniform(-JITTER_M, JITTER_M, (len(t), 2))
        lat_parts.append(anchors[a][0] + jit[:, 0] / M_PER_DEG)
        lon_parts.append(anchors[a][1] + jit[:, 1] / (M_PER_DEG * cos_home))
        ts_parts.append(t)
        if i + 1 < len(timeline):
            b, s2 = timeline[i + 1][0], timeline[i + 1][1]
            k = int(rng.integers(2, 5))
            f = np.arange(1, k + 1) / (k + 1)
            lat_parts.append(anchors[a][0] + f * (anchors[b][0] - anchors[a][0]))
            lon_parts.append(anchors[a][1] + f * (anchors[b][1] - anchors[a][1]))
            ts_parts.append(np.round(e + f * (s2 - e)))
    return (
        np.concatenate(lat_parts),
        np.concatenate(lon_parts),
        np.concatenate(ts_parts),
    )


def _words(rng: np.random.Generator, vocab: int) -> list[str]:
    """A vocabulary of distinct lowercase pseudo-words, 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen = set(STOPWORDS)
    out = []
    while len(out) < vocab:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _doc(rng: np.random.Generator, words: list[str], n: int) -> list[str]:
    """``n`` words: content words with a stopword every ~5 words and
    a sentence break every ~12, so every Gopher rule passes."""
    idx = rng.integers(0, len(words), n)
    toks = [words[i] for i in idx]
    for j in range(0, n, 5):
        toks[j] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    for j in range(11, n, 12):
        toks[j] = toks[j] + "."
    return toks


def corpus(workload: str, seed: int) -> tuple[dict, dict]:
    """Generate documents for ``workload``. Returns ``(columns,
    truth)``; ids are a random permutation so cluster members are
    never adjacent."""
    size = CORPUS_SIZES[workload]
    rng = np.random.default_rng([seed, 2])
    words = _words(rng, size.vocab)
    texts: list[str] = []
    kinds: list[tuple[str, int]] = []  # (kind, cluster index)
    for _ in range(size.distinct):
        n = int(rng.integers(size.words_min, size.words_max + 1))
        texts.append(" ".join(_doc(rng, words, n)))
        kinds.append(("distinct", -1))
    for c in range(size.clusters):
        n = int(rng.integers(size.words_min, size.words_max + 1))
        base = _doc(rng, words, n)
        texts.append(" ".join(base))
        kinds.append(("dup", c))
        for _ in range(int(rng.integers(size.cluster_min, size.cluster_max + 1)) - 1):
            member = list(base)
            # one content word replaced (stopword slots are j % 5 == 0)
            j = 5 * int(rng.integers(0, (n - 1) // 5)) + int(rng.integers(1, 5))
            new = words[int(rng.integers(len(words)))]
            member[j] = new if new != member[j].rstrip(".") else new + "s"
            texts.append(" ".join(member))
            kinds.append(("dup", c))
    for _ in range(size.junk):
        n = int(rng.integers(8, 30))
        texts.append(" ".join(_doc(rng, words, n)))
        kinds.append(("junk", -1))
    ids = rng.permutation(len(texts)) + 1000
    sources = np.array(["web", "news", "forum"])[rng.integers(0, 3, len(texts))]
    clusters: dict[int, list[int]] = {}
    distinct, junk = [], []
    for i, (k, c) in enumerate(kinds):
        if k == "dup":
            clusters.setdefault(c, []).append(int(ids[i]))
        elif k == "distinct":
            distinct.append(int(ids[i]))
        else:
            junk.append(int(ids[i]))
    cols = {
        "doc_id": ids.astype(np.int64),
        "text": np.array(texts, dtype=object),
        "source": sources.astype(object),
    }
    truth = {
        "workload": workload,
        "seed": seed,
        "rows": len(texts),
        "distinct": sorted(distinct),
        "junk": sorted(junk),
        "clusters": [sorted(v) for v in clusters.values()],
    }
    return cols, truth


def materialize(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Write ``workload``'s inputs for ``seed`` under ``root`` (once;
    later calls reuse the files) and return ``(input_dir, truth)``.
    Mobility_staged is written in the vendor ``_c0.._c5`` layout,
    mobility_dense in the canonical ping schema, corpus as
    ``doc_id, text, source``. Files are split in four so the scan has
    parallel splits."""
    size = MOBILITY_SIZES.get(workload) or CORPUS_SIZES[workload]
    tag = hashlib.sha1(repr(size).encode()).hexdigest()[:8]
    d = os.path.join(root, "inputs", f"{workload}-s{seed}-{tag}")
    truth_path = os.path.join(d, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return os.path.join(d, "data"), json.load(f)
    if workload in MOBILITY_SIZES:
        cols, truth = mobility(workload, seed)
        if workload == "mobility_staged":
            n = len(cols["timestamp"])
            table = pa.table(
                {
                    "_c0": pa.array(cols["uid"], pa.string()),
                    "_c1": pa.array(
                        np.where(np.arange(n) % 3 == 0, "ios", "android"),
                        pa.string(),
                    ),
                    "_c2": pa.array(cols["latitude"], pa.float64()),
                    "_c3": pa.array(cols["longitude"], pa.float64()),
                    "_c4": pa.array(cols["error"], pa.float64()),
                    "_c5": pa.array(cols["timestamp"], pa.int64()),
                }
            )
        else:
            table = pa.table(
                {
                    "uid": pa.array(cols["uid"], pa.string()),
                    "latitude": pa.array(cols["latitude"], pa.float64()),
                    "longitude": pa.array(cols["longitude"], pa.float64()),
                    "timestamp": pa.array(cols["timestamp"], pa.int64()),
                }
            )
    else:
        cols, truth = corpus(workload, seed)
        table = pa.table(
            {
                "doc_id": pa.array(cols["doc_id"], pa.int64()),
                "text": pa.array(cols["text"], pa.string()),
                "source": pa.array(cols["source"], pa.string()),
            }
        )
    data = os.path.join(d, "data")
    os.makedirs(data, exist_ok=True)
    step = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(
            table.slice(i * step, step), os.path.join(data, f"part-{i}.parquet")
        )
    # truth last: its presence marks a complete input set
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, truth_path)
    return data, truth
