"""Tests of the benchmark's own checkers: each accepts a correct output and
rejects a perturbed one.  Pure Python, no Spark:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import refs  # noqa: E402


def _model():
    return dict(list(gen.records(7).items())[:300])


def test_lens_check_accepts_the_model_fold():
    want = refs.expected_lenses(_model())
    assert refs.check_lenses(want, copy.deepcopy(want)) == []


def test_lens_check_rejects_a_wrong_sum():
    want = refs.expected_lenses(_model())
    got = copy.deepcopy(want)
    got["sum"][gen.HOT_KEY] += 1
    assert refs.check_lenses(want, got)


def test_lens_check_rejects_a_dropped_set_member():
    want = refs.expected_lenses(_model())
    got = copy.deepcopy(want)
    word = next(w for w, ids in got["inv"].items() if len(ids) > 1)
    got["inv"][word].pop()
    assert refs.check_lenses(want, got)


def test_lens_check_rejects_a_missing_count_key():
    want = refs.expected_lenses(_model())
    got = copy.deepcopy(want)
    got["cnt"].pop(next(iter(got["cnt"])))
    assert refs.check_lenses(want, got)


def test_update_batches_keep_their_mix_and_change_the_model():
    model = _model()
    batch = gen.update_batch(7, 0, model)
    assert len(batch) == sum(gen.BATCH_MIX.values())
    assert len({rid for rid, _ in batch}) == len(batch)
    deletes = [rid for rid, v in batch if v is None]
    rewrites = [rid for rid, v in batch if v is not None and model.get(rid) == v]
    assert len(deletes) == gen.BATCH_MIX["delete"]
    assert len(rewrites) == gen.BATCH_MIX["rewrite"]
    assert gen.update_batch(7, 0, model) == batch


def _pairs_fixture():
    docs = gen.corpus(3, 120)
    return docs, refs.exact_pairs(docs)


def test_exact_pair_reference_matches_brute_force():
    docs, ref = _pairs_fixture()
    sets = {d: refs.shingles(t) for d, t in docs}
    brute = {}
    for a in sets:
        for b in sets:
            if a < b:
                n = len(sets[a] & sets[b])
                j = n / len(sets[a] | sets[b])
                if j >= 0.5:
                    brute[(a, b)] = (n, j)
    assert ref == brute
    assert ref, "the corpus must plant near-duplicates"


def test_exact_pair_check_rejects_a_missing_pair():
    _docs, ref = _pairs_fixture()
    rows = [(a, b, n, j) for (a, b), (n, j) in ref.items()]
    assert refs.check_exact_pairs(ref, rows) == []
    assert refs.check_exact_pairs(ref, rows[1:])


def test_exact_pair_check_rejects_a_wrong_count():
    _docs, ref = _pairs_fixture()
    rows = [(a, b, n, j) for (a, b), (n, j) in ref.items()]
    a, b, n, j = rows[0]
    assert refs.check_exact_pairs(ref, [(a, b, n + 1, j)] + rows[1:])


def test_minhash_check_rejects_a_false_pair_and_low_recall():
    docs, ref = _pairs_fixture()
    rows = [(a, b, j) for (a, b), (_n, j) in ref.items()]
    assert refs.check_minhash_pairs(ref, rows, 0.8) == []
    ids = sorted(d for d, _ in docs)
    false = next((a, b) for a in ids for b in ids if a < b and (a, b) not in ref)
    assert refs.check_minhash_pairs(ref, rows + [(*false, 0.9)], 0.0)
    assert refs.check_minhash_pairs(ref, rows[: len(rows) // 2], 0.8)


def test_export_check_rejects_a_changed_record():
    model = _model()
    envs = [{"id": rid, "version": 1, "data": v} for rid, v in model.items()]
    assert refs.check_export(model, envs, "t") == []
    bad = copy.deepcopy(envs)
    bad[5]["data"]["n"] += 1
    assert refs.check_export(model, bad, "t")
    assert refs.check_export(model, envs[1:], "t")


def test_plain_codecs_round_trip():
    model = _model()
    envs = [{"id": rid, "data": v} for rid, v in model.items()]
    for name, (enc, dec) in refs.CODECS.items():
        assert dec(enc(envs)) == envs, name
    sets = b'{"id": "a", "data": {"type": "Set", "data": ["x", "y"]}}\n'
    assert refs.jsonl_decode(sets) == [{"id": "a", "data": {"x", "y"}}]
    # CBOR tag 258 is a Set
    assert refs.cbor_decode(bytes.fromhex("d901028261786179")) == [{"x", "y"}]
    assert json.loads(refs.jsonl_encode([{"id": "a"}])) == {"id": "a"}


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
