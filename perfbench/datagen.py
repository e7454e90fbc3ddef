"""Seeded input generators for every workload.

Everything here is a pure function of the seed: no Spark, no clock. The
same seed gives identical tweet records, arrival times and gate documents,
which is what the determinism self-test pins. (The catalog workload reads
fixed, committed test tables instead; see ``data/``.)

- ``tweet_stream``: flat scrape records in ``TWEET_RAW_SCHEMA`` shape for
  the streaming lifecycle sink. Text mixes filler words with the
  Indonesian lexicon and location terms; most records are created on the
  stream's current day, the rest up to a week late, and a share are
  re-deliveries of recent ids (same ``created_at``, newer counts).
- ``gate_corpus`` / ``gate_batch``: the near-dup gate's seed corpus and
  its 100-doc batches (10 planted near-dups of stored docs, 90 novel),
  built the way ``tools/gate_bench.py`` builds them.

The word lists are frozen here rather than imported from the engine, so an
engine change cannot silently change the benchmark's inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import random

# ------------------------------------------------------------- tweets ----
FILLER_ID = (
    "program", "makan", "bergizi", "gratis", "anak", "sekolah", "hari", "ini",
    "menu", "nasi", "ayam", "sayur", "susu", "guru", "orang", "tua", "sudah",
    "belum", "kami", "di", "dan", "yang", "untuk", "dengan", "pemerintah",
)
POSITIVE_ID = ("bagus", "sehat", "berhasil", "baik", "mantap")
NEGATIVE_ID = ("gagal", "korupsi", "buruk", "basi", "keracunan", "rugi")
LOCATION_TERMS = (
    "jakarta pusat", "jakarta selatan", "jaksel", "jakarta utara", "bandung",
    "bdg", "bekasi", "semarang", "smg", "surabaya", "sby", "medan",
)
# the stream's "current day"; late records fall up to a week before it
STREAM_DAY = dt.datetime(2025, 1, 8)
LATE_FRAC = 0.15
REDELIVERY_FRAC = 0.10


def _tweet_text(rng: random.Random) -> str:
    words = [rng.choice(FILLER_ID) for _ in range(rng.randint(6, 18))]
    if rng.random() < 0.7:
        words.insert(rng.randrange(len(words)), rng.choice(POSITIVE_ID + NEGATIVE_ID))
    if rng.random() < 0.6:
        words.insert(rng.randrange(len(words)), rng.choice(LOCATION_TERMS))
    text = " ".join(words)
    if rng.random() < 0.2:
        text += f" http://x.co/{rng.randrange(10**6)}"
    if rng.random() < 0.3:
        text += " #MBG"
    return text


def _created_at(rng: random.Random) -> dt.datetime:
    day = STREAM_DAY
    if rng.random() < LATE_FRAC:
        day -= dt.timedelta(days=rng.randint(1, 7))
    return day + dt.timedelta(seconds=rng.randrange(86_400))


def tweet_records(rng: random.Random, n: int, first_id: int) -> list[dict]:
    """``n`` fresh tweets with ids ``first_id …``; no ``scraped_at`` yet."""
    out = []
    for k in range(n):
        i = first_id + k
        out.append({
            "_id": f"{i:09d}",
            "text": _tweet_text(rng),
            "created_at": _created_at(rng),
            "tweet_url": f"https://x.com/u/status/{i}",
            "author_handle": f"user{rng.randrange(5000)}",
            "author_name": rng.choice(("Andi", "Budi", "Citra", "Dewi", "Eko")),
            "location": rng.choice((None, None, "Indonesia", "Bandung")),
            "reply_count": rng.randrange(20),
            "retweet_count": rng.randrange(50),
            "like_count": rng.randrange(200),
        })
    return out


def tweet_stream(seed: int, n_files: int, rows_per_file: int, first_id: int) -> list[list[dict]]:
    """Pre-rendered stream files for ``seed``. Each file holds
    ``rows_per_file`` records: fresh tweets plus ~``REDELIVERY_FRAC``
    re-deliveries of ids seen in the previous few files."""
    rng = random.Random(seed * 1_000_003 + 17)
    files: list[list[dict]] = []
    recent: list[dict] = []
    next_id = first_id
    for _ in range(n_files):
        n_re = int(rows_per_file * REDELIVERY_FRAC) if recent else 0
        fresh = tweet_records(rng, rows_per_file - n_re, next_id)
        next_id += len(fresh)
        redelivered = []
        for src in rng.sample(recent, min(n_re, len(recent))):
            redelivered.append({
                **src, "like_count": src["like_count"] + 1 + rng.randrange(10),
            })
        files.append(fresh + redelivered)
        recent = (recent + fresh)[-rows_per_file * 3:]
    return files


def _json_default(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
    raise TypeError(type(v))


def render_tweets(records: list[dict], scraped_at: float) -> str:
    """JSON lines with ``scraped_at`` stamped at the epoch second given."""
    stamp = dt.datetime.fromtimestamp(scraped_at, dt.timezone.utc).replace(tzinfo=None)
    return "".join(
        json.dumps({**r, "scraped_at": stamp}, default=_json_default) + "\n"
        for r in records
    )


# ----------------------------------------------------------- arrivals ----
def arrival_offsets(seed: int, rate: float, horizon: float) -> list[float]:
    """Open-loop arrival times (seconds from the start, first at 0) at
    ``rate`` files/s up to ``horizon``: one arrival at a uniformly random
    point of each ``1/rate`` slot (the first at 0). Every seed offers the
    same number of files, so the offered load does not swing from run to
    run the way a Poisson count does (27 to 63 files for 11 s at 4/s over
    ten seeds); the gaps stay irregular, so arrivals do not lock into step
    with the micro-batches (at a fixed period latency jumps between a few
    values that depend on that phase)."""
    rng = random.Random(seed * 2_654_435_761 + 11)
    slot = 1.0 / rate
    n = max(1, round(horizon * rate))
    return [0.0] + [(k + rng.random()) * slot for k in range(1, n)]


# --------------------------------------------------------------- gate ----
GATE_WORDS = 40
NEARDUPS_PER_BATCH = 10
BATCH_DOCS = 100
NOVEL_ID_BASE = 10_000_000


def _gate_vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(6)) for _ in range(n)]


def gate_corpus(seed: int, n: int) -> list[str]:
    """``n`` seed documents of 40 random words from a 40k-word vocabulary."""
    rng = random.Random(seed * 7_919 + 7)
    vocab = _gate_vocab(rng, 40_000)
    return [" ".join(rng.choice(vocab) for _ in range(GATE_WORDS)) for _ in range(n)]


def gate_batch(seed: int, corpus: list[str], batch_no: int) -> tuple[list[dict], list[int]]:
    """One 100-doc batch: 10 near-dups of stored docs (first word replaced)
    and 90 novel docs. Returns (docs, ids the gate must admit)."""
    rng = random.Random((seed * 1_000_003 + batch_no) * 31 + 1)
    base_id = NOVEL_ID_BASE + batch_no * 1000
    docs = []
    for i in range(NEARDUPS_PER_BATCH):
        words = corpus[rng.randrange(len(corpus))].split()
        words[0] = "zzchanged"
        docs.append({"doc_id": base_id + i, "text": " ".join(words)})
    novel = []
    letters = "abcdefghijklmnopqrstuvwxyz"
    for i in range(NEARDUPS_PER_BATCH, BATCH_DOCS):
        words = ["".join(rng.choice(letters) for _ in range(6)) for _ in range(GATE_WORDS)]
        docs.append({"doc_id": base_id + i, "text": " ".join(words)})
        novel.append(base_id + i)
    return docs, novel


def render_docs(docs: list[dict]) -> str:
    return "".join(json.dumps(d) + "\n" for d in docs)
