"""Seeded input generation.

Everything the program under test receives is made here from the run's
seed and nothing else: the same seed gives byte-identical inputs.  Each
generator draws from its own ``random.Random`` keyed by (purpose, seed), so
changing one input's make-up never shifts another's stream.
"""

from __future__ import annotations

import random
import string

# -- reactive_update inputs ------------------------------------------------

N_RECORDS = 50_000        # dataset size after the bulk load
N_KEYS = 400              # cold keys of the numbers-add lens
HOT_KEY = "hot"
HOT_SHARE = 0.10          # share of records carrying the hot key
N_WORDS = 600             # vocabulary of the inverted-index lens
WORDS_PER_RECORD = (2, 5)
# one update batch: changed values, new ids, deletes, identical rewrites
BATCH_MIX = {"update": 20, "insert": 10, "delete": 10, "rewrite": 10}
NOOP_BATCH = 50           # identical rewrites only

# -- dedup_pairs inputs ----------------------------------------------------

N_DOCS = 1000
DOC_WORDS = (40, 70)
CORPUS_VOCAB = 5000
FAMILY_SHARE = 0.15       # share of docs that are planted near-duplicates
FAMILY_SIZE = (2, 4)      # docs per planted family, base doc included
EDIT_SHARE = (0.02, 0.08)  # share of a member's words replaced


def _rng(purpose: str, seed: int) -> random.Random:
    return random.Random(f"{purpose}:{seed}")


def _pseudo_words(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(string.ascii_lowercase)
                        for _ in range(rng.randint(lo, hi))))
    return sorted(out)


def words(seed: int) -> list[str]:
    return _pseudo_words(_rng("words", seed), N_WORDS, 3, 8)


def _record(rng: random.Random, vocab: list[str], cold_weights: list[float]) -> dict:
    if rng.random() < HOT_SHARE:
        key = HOT_KEY
    else:
        key = f"k{rng.choices(range(N_KEYS), cold_weights)[0]:03d}"
    return {"k": key, "n": rng.randrange(1000),
            "words": rng.sample(vocab, rng.randint(*WORDS_PER_RECORD))}


def _cold_weights() -> list[float]:
    # mild Zipf skew over the cold keys on top of the single hot key
    return [1.0 / (i + 1) ** 0.7 for i in range(N_KEYS)]


def records(seed: int) -> dict[str, dict]:
    """The bulk-loaded dataset: record id -> value."""
    rng = _rng("records", seed)
    vocab, cw = words(seed), _cold_weights()
    return {f"r{i:06d}": _record(rng, vocab, cw) for i in range(N_RECORDS)}


def update_batch(seed: int, op: int, model: dict[str, dict]) -> list[tuple[str, dict | None]]:
    """The ``op``-th update batch of a run: a fixed mix of changed values,
    inserts, deletes and identical rewrites, drawn against the current
    ``model``."""
    rng = _rng(f"batch{op}", seed)
    vocab, cw = words(seed), _cold_weights()
    live = sorted(model)
    picked = rng.sample(live, BATCH_MIX["update"] + BATCH_MIX["delete"]
                        + BATCH_MIX["rewrite"])
    upd = picked[:BATCH_MIX["update"]]
    dele = picked[BATCH_MIX["update"]:BATCH_MIX["update"] + BATCH_MIX["delete"]]
    rew = picked[BATCH_MIX["update"] + BATCH_MIX["delete"]:]
    batch: list[tuple[str, dict | None]] = []
    for rid in upd:
        v = _record(rng, vocab, cw)
        if v == model[rid]:
            v["n"] += 1
        batch.append((rid, v))
    batch += [(rid, None) for rid in dele]
    batch += [(rid, model[rid]) for rid in rew]
    batch += [(f"n{op:03d}_{i:03d}", _record(rng, vocab, cw))
              for i in range(BATCH_MIX["insert"])]
    return batch


def noop_batch(seed: int, model: dict[str, dict]) -> list[tuple[str, dict]]:
    rng = _rng("noop", seed)
    return [(rid, model[rid]) for rid in rng.sample(sorted(model), NOOP_BATCH)]


def read_keys(seed: int, op: int, outputs: dict[str, list[str]], n: int) -> list[tuple[str, str]]:
    """``n`` (lens, output id) point-read targets spread over the lenses."""
    rng = _rng(f"reads{op}", seed)
    lenses = sorted(outputs)
    return [(lens, rng.choice(outputs[lens]))
            for lens in (lenses[i % len(lenses)] for i in range(n))]


# -- dedup_pairs inputs ----------------------------------------------------

def corpus(seed: int, n_docs: int = N_DOCS) -> list[tuple[str, str]]:
    """``[(doc_id, text)]``: vocabulary text with planted near-duplicate
    families (a base doc plus copies with a few words replaced)."""
    rng = _rng("corpus", seed)
    vocab = _pseudo_words(rng, CORPUS_VOCAB, 3, 9)
    weights = [1.0 / (i + 1) ** 0.4 for i in range(CORPUS_VOCAB)]

    def doc() -> list[str]:
        return rng.choices(vocab, weights, k=rng.randint(*DOC_WORDS))

    docs: list[list[str]] = []
    n_family_docs = int(n_docs * FAMILY_SHARE)
    while len(docs) < n_family_docs:
        base = doc()
        docs.append(base)
        for _ in range(rng.randint(*FAMILY_SIZE) - 1):
            member = list(base)
            for _ in range(max(1, round(len(member) * rng.uniform(*EDIT_SHARE)))):
                member[rng.randrange(len(member))] = rng.choice(vocab)
            docs.append(member)
    while len(docs) < n_docs:
        docs.append(doc())
    docs = docs[:n_docs]
    rng.shuffle(docs)
    return [(f"d{i:05d}", " ".join(w)) for i, w in enumerate(docs)]
