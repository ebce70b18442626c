"""Seeded corpus generator for the curation benchmark.

Every workload's input is a pure function of ``(workload, seed)``: the same
seed writes byte-identical parquet. The generator runs in plain Python with
pyarrow (no Spark), once per seed, outside every timed region, and records
what it planted (exact-duplicate groups, near-duplicates, rejects) in a
``truth.json`` next to the input so the output checks have ground truth.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "on", "for", "with",
    "that", "it", "as", "was", "by", "at", "from", "this", "be", "are",
)
WORDS = (
    "time", "people", "year", "way", "day", "world", "life", "hand", "part",
    "child", "eye", "place", "work", "week", "case", "point", "number",
    "group", "problem", "fact", "river", "city", "market", "system", "water",
    "school", "family", "program", "question", "country", "story", "result",
    "change", "night", "study", "book", "word", "business", "issue", "side",
    "kind", "head", "house", "service", "friend", "power", "hour", "game",
    "line", "member", "law", "car", "name", "team", "minute", "idea", "body",
    "information", "back", "parent", "face", "others", "level", "office",
    "door", "health", "person", "art", "war", "history", "party", "morning",
    "reason", "research", "girl", "guy", "moment", "air", "teacher", "force",
    "education", "foot", "boy", "age", "policy", "music", "market", "field",
    "process", "mind", "price", "report", "decision", "view", "town", "road",
    "difference", "value", "building", "action", "model", "season", "society",
    "director", "position", "player", "record", "paper", "space", "ground",
    "form", "event", "matter", "center", "couple", "site", "project", "star",
    "table", "court", "oil", "situation", "cost", "industry", "figure",
    "street", "image", "garden", "window", "signal", "engine", "bridge",
    "stream", "filter", "vector", "sample", "cluster", "batch", "harbor",
    "valley", "canvas", "lantern", "meadow", "orbit", "quartz", "summit",
)
SUFFIXES = ("", "", "", "s", "ed", "ing", "ly", "er")

MTIME_BASE = 1_600_000_000  # epoch seconds of the first input file

TEXT_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)
IMAGE_SCHEMA = pa.schema([("id", pa.int64()), ("image", pa.binary())])


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's corpus."""

    kind: str  # "text" or "image"
    rows: int
    files: int
    exact_frac: float = 0.0  # share of rows that are exact copies of a clean doc
    near_frac: float = 0.0  # share of rows that are near copies (a few words edited)
    reject_frac: float = 0.0  # share of rows planted to fail a filter
    repeat_frac: float = 0.0  # share of each later file repeating earlier files
    one_row_group: bool = False
    content_period: int = 0  # images: pixel content repeats with id % period


# ---------------------------------------------------------------- text


def _sentence(rng: random.Random, n_words: int, first: bool) -> str:
    words = [
        rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(WORDS) + rng.choice(SUFFIXES)
        for _ in range(n_words)
    ]
    if first and n_words > 3:  # language marker and stopword insurance
        words[1], words[3] = "the", "of"
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def clean_text(rng: random.Random) -> str:
    """55-160 words of prose, 2-3 sentences per line; passes every filter
    of the shipped recipes."""
    target, sents, n = rng.randint(55, 160), [], 0
    while n < target:
        k = rng.randint(8, 18)
        sents.append(_sentence(rng, k, first=not sents))
        n += k
    lines, i = [], 0
    while i < len(sents):
        step = rng.randint(2, 3)
        lines.append(" ".join(sents[i : i + step]))
        i += step
    return "\n".join(lines)


def reject_text(rng: random.Random, kind: int) -> str:
    """A doc planted to fail one filter: 0 too short, 1 no language
    markers, 2 one sentence repeated (dup-word ratio ~0.9)."""
    if kind == 0:
        return _sentence(rng, 7, first=True)[:70]
    if kind == 1:
        return " ".join(rng.choice(WORDS) + rng.choice(("s", "ed", "ing")) for _ in range(rng.randint(60, 120)))
    return " ".join([_sentence(rng, 12, first=True)] * 10)


def near_copy(rng: random.Random, text: str) -> str:
    """``text`` with three words replaced: a near duplicate that still
    shares long verbatim spans with its original."""
    words = text.split(" ")
    for _ in range(3):
        k = rng.randrange(len(words))
        words[k] = rng.choice(WORDS) + "x"
    return " ".join(words)


def _text_rows(spec: Spec, seed: int):
    """(texts, truth) for a text corpus; doc_id is the row position, so a
    copy always carries a larger id than its original."""
    rng = random.Random(f"text-{seed}")
    n = spec.rows
    kinds = ["clean"] * n
    n_exact, n_near = int(n * spec.exact_frac), int(n * spec.near_frac)
    n_reject = int(n * spec.reject_frac)
    # copies and rejects land at random positions after the first 10% of
    # ids, so every copy has an earlier clean original to point at
    slots = rng.sample(range(n // 10, n), n_exact + n_near + n_reject)
    for i in slots[:n_exact]:
        kinds[i] = "exact"
    for i in slots[n_exact : n_exact + n_near]:
        kinds[i] = "near"
    for i in slots[n_exact + n_near :]:
        kinds[i] = "reject"
    texts: list[str] = []
    origin: dict[int, int] = {}
    clean_ids: list[int] = []
    rejects = [0, 0, 0]
    for i, kind in enumerate(kinds):
        if kind == "clean":
            texts.append(clean_text(rng))
            clean_ids.append(i)
        elif kind == "reject":
            r = rng.randrange(3)
            rejects[r] += 1
            texts.append(reject_text(rng, r))
        else:
            src = rng.choice(clean_ids)
            origin[i] = src
            texts.append(texts[src] if kind == "exact" else near_copy(rng, texts[src]))
    groups: dict[int, list[int]] = {}
    for i, src in origin.items():
        if kinds[i] == "exact":
            groups.setdefault(src, [src]).append(i)
    truth = {
        "exact_groups": sorted(groups.values()),
        "near_copies": sorted([i, origin[i]] for i in origin if kinds[i] == "near"),
        "rejects": {"short": rejects[0], "no_language": rejects[1], "repetitive": rejects[2]},
    }
    return texts, truth


def _stream_rows(spec: Spec, seed: int):
    """Text rows for the incremental stream: file f's rows are ids
    [f*per, (f+1)*per); in every file after the first, ``repeat_frac`` of
    the rows are exact copies of docs from EARLIER files."""
    rng = random.Random(f"stream-{seed}")
    per = spec.rows // spec.files
    texts: list[str] = []
    clean_ids: list[int] = []
    groups: dict[int, list[int]] = {}
    rejects = [0, 0, 0]
    for f in range(spec.files):
        n_rep = int(per * spec.repeat_frac) if f else 0
        n_rej = int(per * spec.reject_frac)
        roles = ["repeat"] * n_rep + ["reject"] * n_rej + ["clean"] * (per - n_rep - n_rej)
        rng.shuffle(roles)
        earlier = len(clean_ids)
        for role in roles:
            i = len(texts)
            if role == "repeat":
                src = clean_ids[rng.randrange(earlier)]
                groups.setdefault(src, [src]).append(i)
                texts.append(texts[src])
            elif role == "reject":
                r = rng.randrange(2)  # short or no-language: the stream's two filters
                rejects[r] += 1
                texts.append(reject_text(rng, r))
            else:
                texts.append(clean_text(rng))
                clean_ids.append(i)
    truth = {
        "exact_groups": sorted(groups.values()),
        "near_copies": [],
        "rejects": {"short": rejects[0], "no_language": rejects[1], "repetitive": 0},
    }
    return texts, truth


def _text_table(texts: list[str], lo: int, hi: int) -> pa.Table:
    ids = list(range(lo, hi))
    chunk = texts[lo:hi]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(chunk, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array([("web", "news", "wiki", "forum")[i % 4] for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in chunk], pa.int64()),
        },
        schema=TEXT_SCHEMA,
    )


# --------------------------------------------------------------- images


def _bmp(w: int, h: int, pixels: bytes) -> bytes:
    """24-bit bottom-up BMP (the layout operators/images.py decodes)."""
    row = ((w * 3 + 3) // 4) * 4
    pad = b"\x00" * (row - w * 3)
    data = b"".join(pixels[y * w * 3 : (y + 1) * w * 3] + pad for y in range(h - 1, -1, -1))
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def image_size(i: int) -> tuple[int, int]:
    """Varied sizes, 32-64 x 32-64 px; period 15, so a content period that
    is a multiple of 15 repeats pixels only between equal sizes."""
    return 32 + (i % 5) * 8, 32 + (i % 3) * 16


def _image_bytes(seed: int, i: int, period: int) -> bytes:
    w, h = image_size(i)
    key = hashlib.sha256(f"img-{seed}-{i % period}".encode()).digest()
    return _bmp(w, h, random.Random(key).randbytes(w * h * 3))


def _image_truth(spec: Spec) -> dict:
    groups: dict[int, list[int]] = {}
    for i in range(spec.rows):
        groups.setdefault(i % spec.content_period, []).append(i)
    return {
        "exact_groups": sorted(g for g in groups.values() if len(g) > 1),
        "near_copies": [],
        "rejects": {},
    }


# ---------------------------------------------------------------- write


def _row_ranges(rows: int, files: int) -> list[tuple[int, int]]:
    per = -(-rows // files)
    return [(lo, min(rows, lo + per)) for lo in range(0, rows, per)]


def write_corpus(spec: Spec, seed: int, out_dir: str) -> dict:
    """Write ``out_dir/input/part-NNNNN.parquet`` and ``out_dir/truth.json``;
    returns the manifest (rows, files, row groups, bytes, planted truth)."""
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    if spec.kind == "image":
        truth = _image_truth(spec)
        tables = [
            pa.table(
                {
                    "id": pa.array(range(lo, hi), pa.int64()),
                    "image": pa.array([_image_bytes(seed, i, spec.content_period) for i in range(lo, hi)], pa.binary()),
                },
                schema=IMAGE_SCHEMA,
            )
            for lo, hi in _row_ranges(spec.rows, spec.files)
        ]
    else:
        texts, truth = (_stream_rows if spec.repeat_frac else _text_rows)(spec, seed)
        tables = [_text_table(texts, lo, hi) for lo, hi in _row_ranges(len(texts), spec.files)]
    row_groups, nbytes, rows = 0, 0, 0
    for k, table in enumerate(tables):
        path = os.path.join(in_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows if spec.one_row_group else 2048)
        # a file stream takes files in modification-time order, at ms
        # resolution, and files written within one ms tie and come in
        # directory order. One second apart, they arrive in id order.
        os.utime(path, ns=((MTIME_BASE + k) * 10**9,) * 2)
        meta = pq.ParquetFile(path).metadata
        row_groups += meta.num_row_groups
        nbytes += os.path.getsize(path)
        rows += table.num_rows
    manifest = {
        "rows": rows,
        "files": len(tables),
        "row_groups": row_groups,
        "bytes": nbytes,
        "truth": truth,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
