"""Generator determinism: the same seed gives the same inputs, another
seed gives other inputs. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen  # noqa: E402


def test_tweet_stream_deterministic_and_shaped():
    a = datagen.tweet_stream(11, 6, 50, first_id=1000)
    assert a == datagen.tweet_stream(11, 6, 50, first_id=1000)
    assert a != datagen.tweet_stream(12, 6, 50, first_id=1000)
    recs = [r for f in a for r in f]
    assert all(len(f) == 50 for f in a)
    # re-deliveries keep id and created_at of an earlier record
    first_seen = {}
    redelivered = 0
    for r in recs:
        if r["_id"] in first_seen:
            redelivered += 1
            assert first_seen[r["_id"]]["created_at"] == r["created_at"]
        else:
            first_seen[r["_id"]] = r
    assert redelivered > 0
    late = sum(1 for r in first_seen.values() if r["created_at"].date() < datagen.STREAM_DAY.date())
    assert 0 < late < len(first_seen) / 2
    words = " ".join(r["text"] for r in recs).split()
    assert set(words) & set(datagen.POSITIVE_ID + datagen.NEGATIVE_ID)
    line = json.loads(datagen.render_tweets(a[0][:1], 1_700_000_000.25).splitlines()[0])
    assert line["scraped_at"] == "2023-11-14T22:13:20.250Z"


def test_gate_batches_deterministic_with_planted_neardups():
    corpus = datagen.gate_corpus(2, 200)
    assert corpus == datagen.gate_corpus(2, 200)
    docs, novel = datagen.gate_batch(2, corpus, 0)
    assert (docs, novel) == datagen.gate_batch(2, corpus, 0)
    assert datagen.gate_batch(3, corpus, 0) != (docs, novel)
    assert len(docs) == datagen.BATCH_DOCS and len(novel) == 90
    dups = [d for d in docs if d["doc_id"] not in set(novel)]
    for d in dups:  # one word replaced in a stored doc
        rest = d["text"].split()[1:]
        assert any(c.split()[1:] == rest for c in corpus)


def test_arrivals_deterministic_stratified():
    a = datagen.arrival_offsets(9, 4.0, 60.0)
    assert a == datagen.arrival_offsets(9, 4.0, 60.0)
    assert a != datagen.arrival_offsets(10, 4.0, 60.0)
    assert a[0] == 0.0 and all(x < y for x, y in zip(a, a[1:])) and a[-1] < 60.0
    assert len(a) == 240  # exactly rate × horizon, whatever the seed
    assert all(k / 4.0 <= x < (k + 1) / 4.0 for k, x in enumerate(a))  # one per slot
    gaps = [y - x for x, y in zip(a, a[1:])]
    assert min(gaps) < 0.05 and max(gaps) > 0.4  # irregular, not a fixed period
