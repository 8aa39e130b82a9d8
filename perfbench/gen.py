"""Seeded input generators: Home Assistant event files and a document corpus.

Everything is drawn from ``numpy.random.Generator(PCG64(seed))`` and written
with fixed parquet settings, so the same seed gives byte-identical files and
another seed gives the same mix with different values (the same event
counts; a corpus whose size moves by a few documents).

Event files carry the raw ``state_changed`` shape the ingest layer expects:
``time_fired`` (parquet TIMESTAMP(MICROS), UTC), ``entity_id``, ``state``,
``attributes`` (a JSON object rendered exactly like
``json.dumps(..., separators=(",", ":"))``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_S = 1_000_000
US_PER_H = 3600 * US_PER_S

#: event domain shares; entities inside a domain are drawn Zipf
DOMAIN_SHARES = {
    "sensor": 0.45,
    "binary_sensor": 0.20,
    "light": 0.15,
    "switch": 0.10,
    "device_tracker": 0.10,
}
DOMAIN_SIZES = {
    "sensor": 900,
    "binary_sensor": 400,
    "light": 300,
    "switch": 250,
    "device_tracker": 150,
}
#: sensors whose name matches the exclude glob (``sensor.debug_*``)
DEBUG_SENSORS = 45
ZIPF_S = 1.1

INVALID_SHARE = 0.02  # half "unknown", half NULL state
NUL_SHARE = 0.0005
SAME_FILE_REPLAY_SHARE = 0.007
PREV_FILE_REPLAY_SHARE = 0.003
MILD_LATE_SHARE = 0.005  # 1-20 minutes behind the file start: kept
VERY_LATE_SHARE = 0.005  # 5-9 hours behind the file start: dropped as late

#: the stream's watermark delay
WATERMARK_US = 1 * US_PER_H


@dataclass(frozen=True)
class Entities:
    ids: dict[str, np.ndarray]  # domain -> entity ids (object array)
    weights: dict[str, np.ndarray]  # domain -> Zipf probabilities
    excluded: tuple[str, ...]

    def popular(self, domain: str, rng: np.random.Generator, n: int) -> np.ndarray:
        """``n`` entity ids of ``domain`` drawn with the event popularity."""
        return rng.choice(self.ids[domain], size=n, p=self.weights[domain])


def make_entities(seed: int) -> Entities:
    rng = np.random.default_rng([seed, 1])
    ids, weights = {}, {}
    for d, n in DOMAIN_SIZES.items():
        if d == "sensor":
            names = [f"sensor.debug_{i:04d}" for i in range(DEBUG_SENSORS)] + [
                f"sensor.temp_{i:04d}" for i in range(n - DEBUG_SENSORS)
            ]
        else:
            names = [f"{d}.{d.split('_')[0]}_{i:04d}" for i in range(n)]
        arr = np.array(rng.permutation(names), dtype=object)
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        ids[d] = arr
        weights[d] = w / w.sum()
    # three popular plain sensors are excluded by name
    top = [e for e in ids["sensor"][:20] if not e.startswith("sensor.debug_")]
    excluded = tuple(sorted(rng.choice(top, size=3, replace=False)))
    return Entities(ids, weights, excluded)


def entity_filter_spec(ents: Entities) -> dict:
    """Arguments for ``ltss_spark.ingest.EntityFilter``: include four of the
    five domains, exclude a glob and three named entities."""
    return {
        "include_domains": ("sensor", "binary_sensor", "light", "device_tracker"),
        "exclude_globs": ("sensor.debug_*",),
        "exclude_entities": ents.excluded,
    }


def _fmt(values: np.ndarray) -> np.ndarray:
    """Floats rendered the way ``json.dumps``/``repr`` render them."""
    return np.array([repr(float(v)) for v in values], dtype=object)


def _events_block(
    rng: np.random.Generator, ents: Entities, n: int, t0: int, t1: int
) -> dict[str, np.ndarray]:
    """``n`` fresh events with times uniform in ``[t0, t1)`` microseconds."""
    domains = np.array(list(DOMAIN_SHARES), dtype=object)
    dom = rng.choice(domains, size=n, p=np.array(list(DOMAIN_SHARES.values())))
    times = np.sort(rng.integers(t0, t1, size=n))
    entity = np.empty(n, dtype=object)
    state = np.empty(n, dtype=object)
    attrs = np.empty(n, dtype=object)
    for d in DOMAIN_SHARES:
        idx = np.nonzero(dom == d)[0]
        k = len(idx)
        entity[idx] = ents.popular(d, rng, k)
        if d == "sensor":
            v = np.round(rng.normal(21.0, 4.0, size=k), 2)
            state[idx] = _fmt(v)
            attrs[idx] = '{"unit_of_measurement":"C","device_class":"temperature"}'
        elif d == "light":
            state[idx] = np.where(rng.random(k) < 0.5, "on", "off")
            b = rng.integers(0, 256, size=k).astype(str).astype(object)
            attrs[idx] = '{"brightness":' + b + ',"color_mode":"brightness"}'
        elif d == "device_tracker":
            state[idx] = np.where(rng.random(k) < 0.6, "home", "not_home")
            lat = _fmt(np.round(rng.uniform(50.0, 54.0, size=k), 6))
            lon = _fmt(np.round(rng.uniform(3.0, 7.0, size=k), 6))
            kind = rng.random(k)
            lat = np.where(kind < 0.04, "0.0", lat)  # a valid 0.0 coordinate
            lat = np.where((kind >= 0.04) & (kind < 0.08), '"unknown"', lat)
            member_lon = np.where(
                (kind >= 0.08) & (kind < 0.12), "", ',"longitude":' + lon
            )
            attrs[idx] = (
                '{"source_type":"gps","latitude":' + lat + member_lon
                + ',"gps_accuracy":12}'
            )
        else:  # binary_sensor, switch
            state[idx] = np.where(rng.random(k) < 0.5, "on", "off")
            attrs[idx] = '{"device_class":"opening"}' if d == "binary_sensor" else "{}"
    bad = rng.random(n)
    state[bad < INVALID_SHARE / 2] = "unknown"
    state[(bad >= INVALID_SHARE / 2) & (bad < INVALID_SHARE)] = None
    nul = (bad >= INVALID_SHARE) & (bad < INVALID_SHARE + NUL_SHARE)
    state[nul] = np.array([f"{s}\x00x" for s in state[nul]], dtype=object)
    return {"time": times, "entity_id": entity, "state": state, "attributes": attrs}


def _take(block: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in block.items()}


def _concat(*blocks: dict) -> dict:
    return {k: np.concatenate([b[k] for b in blocks]) for k in blocks[0]}


def write_events(path: str, block: dict) -> None:
    table = pa.table(
        {
            "time_fired": pa.array(block["time"], type=pa.timestamp("us", tz="UTC")),
            "entity_id": pa.array(block["entity_id"], type=pa.string()),
            "state": pa.array(block["state"], type=pa.string()),
            "attributes": pa.array(block["attributes"], type=pa.string()),
        }
    )
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def event_files(
    seed: int,
    out_dir: str,
    n_files: int,
    start_us: int,
    span_us: int,
    events_per_file: int = 20_000,
    ents: Entities | None = None,
) -> list[str]:
    """Write ``n_files`` event files covering consecutive ``span_us`` slices
    from ``start_us``. Each file holds ``events_per_file`` rows: fresh events
    in time order, plus replays (exact copies of an earlier event of the same
    or the previous file) and late events, at random positions. File
    modification times increase with the index, which is the order a file
    stream source reads them in. Returns the paths in that order."""
    ents = ents or make_entities(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths, prev = [], None
    n_same = int(events_per_file * SAME_FILE_REPLAY_SHARE)
    n_prev = int(events_per_file * PREV_FILE_REPLAY_SHARE)
    n_mild = int(events_per_file * MILD_LATE_SHARE)
    n_very = int(events_per_file * VERY_LATE_SHARE)
    n_fresh = events_per_file - n_same - n_prev - n_mild - n_very
    for k in range(n_files):
        rng = np.random.default_rng([seed, 2, k])
        t0 = start_us + k * span_us
        fresh = _events_block(rng, ents, n_fresh, t0, t0 + span_us)
        mild = _events_block(rng, ents, n_mild, t0 - 20 * 60 * US_PER_S, t0 - 60 * US_PER_S)
        very = _events_block(rng, ents, n_very, t0 - 9 * US_PER_H, t0 - 5 * US_PER_H)
        same = _take(fresh, rng.integers(0, n_fresh, size=n_same))
        if prev is None:
            prev_rep = _take(fresh, rng.integers(0, n_fresh, size=n_prev))
        else:
            # the previous file's last 10 minutes: inside the watermark
            tail = np.nonzero(prev["time"] >= t0 - 10 * 60 * US_PER_S)[0]
            if len(tail) == 0:  # a sparse history file: replay its last event
                tail = np.array([np.argmax(prev["time"])])
            prev_rep = _take(prev, rng.choice(tail, size=n_prev))
        block = _concat(fresh, same, prev_rep, mild, very)
        # interleave the extra rows into the fresh, time-ordered rows
        extra = np.arange(n_fresh, events_per_file)
        pos = np.sort(rng.integers(0, n_fresh, size=len(extra)))
        order = np.insert(np.arange(n_fresh), pos, extra)
        block = _take(block, order)
        path = os.path.join(out_dir, f"events_{k:05d}.parquet")
        write_events(path, block)
        mtime = 1_600_000_000 + k
        os.utime(path, (mtime, mtime))
        paths.append(path)
        prev = fresh
    return paths


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Corpus:
    path: str
    n_docs: int
    exact_groups: tuple[tuple[int, ...], ...]  # planted groups, >= 2 ids each
    near_pairs: tuple[tuple[int, int], ...]  # (original, edited copy)


def corpus(
    seed: int,
    path: str,
    n_base: int = 2400,
    n_exact_groups: int = 150,
    n_near: int = 300,
    vocab: int = 6000,
    min_words: int = 60,
    max_words: int = 140,
    edit_share: float = 0.03,
) -> Corpus:
    """Random-word documents with planted duplicates:

    - ``n_exact_groups`` groups of 2-4 documents whose texts differ only in
      letter case and whitespace (equal after normalization);
    - ``n_near`` edited copies, each replacing ``edit_share`` of an
      original's words with other words.

    Base texts are random draws of 60-140 words from a Zipf vocabulary, so
    two unrelated documents never collide."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    p = 1.0 / np.arange(1, vocab + 1) ** 0.8
    p /= p.sum()
    texts: list[str] = []
    toks: list[np.ndarray] = []
    for _ in range(n_base):
        t = rng.choice(words, size=int(rng.integers(min_words, max_words + 1)), p=p)
        toks.append(t)
        texts.append(" ".join(t))
    groups = []
    originals = rng.choice(n_base, size=n_exact_groups + n_near, replace=False)
    for o in originals[:n_exact_groups]:
        members = [int(o)]
        for _ in range(int(rng.integers(1, 4))):
            t = toks[o].copy()
            up = rng.random(len(t)) < 0.3
            t[up] = np.char.upper(t[up].astype(str)).astype(object)
            seps = np.where(rng.random(len(t) - 1) < 0.2, "  ", " ")
            texts.append("".join(w + s for w, s in zip(t[:-1], seps)) + t[-1])
            members.append(len(texts) - 1)
        groups.append(tuple(members))
    near = []
    for o in originals[n_exact_groups:]:
        t = toks[o].copy()
        hit = rng.random(len(t)) < edit_share
        hit[int(rng.integers(len(t)))] = True  # at least one edit
        # a replacement never equals the word it replaces
        shift = rng.integers(1, vocab, size=int(hit.sum()))
        t[hit] = words[(np.char.lstrip(t[hit].astype(str), "w").astype(int) + shift) % vocab]
        texts.append(" ".join(t))
        near.append((int(o), len(texts) - 1))
    perm = rng.permutation(len(texts))  # doc ids carry no planting order
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    text_by_id = np.empty(len(texts), dtype=object)
    text_by_id[new_id] = np.array(texts, dtype=object)
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(text_by_id, pa.string())})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return Corpus(
        path,
        len(texts),
        tuple(tuple(sorted(int(new_id[m]) for m in g)) for g in groups),
        tuple(tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in near),
    )


def canonical_attrs(raw: str | None) -> str | None:
    """The attributes text with the location members removed, rendered like
    the generator renders it (the independent side of the ingest check)."""
    if raw is None:
        return None
    obj = json.loads(raw)
    obj.pop("latitude", None)
    obj.pop("longitude", None)
    return json.dumps(obj, separators=(",", ":"))
