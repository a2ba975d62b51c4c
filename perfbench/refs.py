"""Reference computations and output checkers, made apart from the program.

Nothing here imports the program under test: the lens outputs are plain
Python folds over the benchmark's own model of the dataset, the exact
Jaccard pairs come from a plain-Python shingle count, and uploads/exports
go through the small CBOR and MessagePack codecs below.  Each checker
returns a list of human-readable mismatches; an empty list means the
output is correct.
"""

from __future__ import annotations

import json
import struct
from collections import Counter, defaultdict

# -- lens DAG under test (the codes are inputs; their results are modelled
#    below, not taken from the program) ------------------------------------

SUM_CODE = "output(data['k'], data['n'])"
INV_CODE = "for w in data['words']:\n    output(w, Set([path.recordID]))"
CNT_CODE = "output('m' + str(data % 7), 1)"


def expected_lenses(model: dict[str, dict]) -> dict[str, dict]:
    """sum per key, set union of record ids per word, and a count of the
    sum lens's keys per residue of their sum mod 7."""
    sums: dict[str, int] = defaultdict(int)
    inv: dict[str, set] = defaultdict(set)
    for rid, v in model.items():
        sums[v["k"]] += v["n"]
        for w in v["words"]:
            inv[w].add(rid)
    cnt = Counter(f"m{s % 7}" for s in sums.values())
    return {"sum": dict(sums), "inv": dict(inv), "cnt": dict(cnt)}


def check_lenses(expected: dict[str, dict], actual: dict[str, dict]) -> list[str]:
    bad = []
    for lens, want in expected.items():
        got = actual.get(lens, {})
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        for kind, ids in (("missing", missing), ("extra", extra), ("wrong", wrong)):
            if ids:
                bad.append(f"{lens}: {len(ids)} {kind} output ids, e.g. {ids[:3]}")
    return bad


# -- exact n-gram Jaccard ---------------------------------------------------

def shingles(text: str, n: int = 5) -> set[str]:
    """Distinct character n-grams; a text shorter than n is one shingle."""
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}


def exact_pairs(docs: list[tuple[str, str]], threshold: float = 0.5) -> dict[tuple[str, str], tuple[int, float]]:
    """(id_a, id_b) with id_a < id_b -> (shared shingles, Jaccard), for every
    pair whose 5-char shingle Jaccard is at least ``threshold``."""
    sets = {d: shingles(t) for d, t in docs}
    postings: dict[str, list[str]] = defaultdict(list)
    for d in sorted(sets):
        for s in sets[d]:
            postings[s].append(d)
    out = {}
    for a in sorted(sets):
        common: Counter = Counter()
        for s in sets[a]:
            common.update(b for b in postings[s] if b > a)
        for b, n in common.items():
            jac = n / (len(sets[a]) + len(sets[b]) - n)
            if jac >= threshold:
                out[(a, b)] = (n, jac)
    return out


def check_exact_pairs(ref: dict, rows: list[tuple]) -> list[str]:
    """``rows``: (id_a, id_b, n_common, jaccard) from the program."""
    got = {(a, b): (n, j) for a, b, n, j in rows}
    bad = []
    if len(got) != len(rows):
        bad.append(f"exact: {len(rows) - len(got)} duplicate pairs")
    missing = sorted(set(ref) - set(got))
    extra = sorted(set(got) - set(ref))
    wrong = sorted(p for p in set(ref) & set(got) if ref[p] != got[p])
    for kind, ps in (("missing", missing), ("extra", extra), ("wrong", wrong)):
        if ps:
            bad.append(f"exact: {len(ps)} {kind} pairs, e.g. {ps[:2]}")
    return bad


def check_minhash_pairs(ref: dict, rows: list[tuple], recall_floor: float) -> list[str]:
    """``rows``: (id_a, id_b, jaccard).  Every pair must be a true pair with
    its exact Jaccard, and enough of the true pairs must be found."""
    got = {(a, b): j for a, b, j in rows}
    bad = []
    not_true = sorted(p for p in got if p not in ref)
    wrong = sorted(p for p in got if p in ref and ref[p][1] != got[p])
    if not_true:
        bad.append(f"minhash: {len(not_true)} pairs not in the exact set, e.g. {not_true[:2]}")
    if wrong:
        bad.append(f"minhash: {len(wrong)} pairs with a wrong Jaccard, e.g. {wrong[:2]}")
    recall = len(set(got) & set(ref)) / len(ref) if ref else 1.0
    if recall < recall_floor:
        bad.append(f"minhash: recall {recall:.3f} below the floor {recall_floor}")
    return bad


# -- exports ----------------------------------------------------------------

def check_export(want: dict[str, object], envelopes: list[dict], what: str) -> list[str]:
    """An export (or a decoded upload) holds exactly the records written,
    each once, with the same data."""
    got: dict[str, object] = {}
    bad = []
    for env in envelopes:
        if env["id"] in got:
            bad.append(f"{what}: record {env['id']!r} exported twice")
        got[env["id"]] = env.get("data")
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
    for kind, ids in (("missing", missing), ("extra", extra), ("changed", wrong)):
        if ids:
            bad.append(f"{what}: {len(ids)} {kind} records, e.g. {ids[:3]}")
    return bad


# -- plain codecs for uploads and exports ----------------------------------
# Only what the inputs and outputs use: maps with string keys, arrays,
# strings, integers, booleans, null, plus the Set tag that exports of the
# inverted-index lens carry (CBOR tag 258; tagged JSON {"type": "Set"}).

def jsonl_encode(entries: list[dict]) -> bytes:
    return b"".join(json.dumps(e).encode() + b"\n" for e in entries)


def jsonl_decode(data: bytes) -> list[dict]:
    def untag(v):
        if isinstance(v, dict):
            if set(v) == {"type", "data"} and v["type"] == "Set":
                return {untag(m) for m in v["data"]}
            return {k: untag(x) for k, x in v.items()}
        if isinstance(v, list):
            return [untag(x) for x in v]
        return v
    return [untag(json.loads(line)) for line in data.splitlines() if line.strip()]


def _cbor_head(major: int, n: int) -> bytes:
    if n < 24:
        return bytes([major << 5 | n])
    for info, fmt in ((24, ">B"), (25, ">H"), (26, ">I"), (27, ">Q")):
        if n < 1 << (8 * struct.calcsize(fmt)):
            return bytes([major << 5 | info]) + struct.pack(fmt, n)
    raise ValueError(n)


def _cbor_enc(v, out: bytearray) -> None:
    if v is None or isinstance(v, bool):
        out.append({None: 0xF6, False: 0xF4, True: 0xF5}[v])
    elif isinstance(v, int):
        out += _cbor_head(0, v) if v >= 0 else _cbor_head(1, -1 - v)
    elif isinstance(v, str):
        b = v.encode()
        out += _cbor_head(3, len(b)) + b
    elif isinstance(v, list):
        out += _cbor_head(4, len(v))
        for x in v:
            _cbor_enc(x, out)
    elif isinstance(v, dict):
        out += _cbor_head(5, len(v))
        for k, x in v.items():
            _cbor_enc(k, out)
            _cbor_enc(x, out)
    else:
        raise TypeError(type(v))


def cbor_encode(entries: list[dict]) -> bytes:
    out = bytearray()
    for e in entries:
        _cbor_enc(e, out)
    return bytes(out)


def cbor_decode(data: bytes) -> list:
    pos = 0

    def arg(info: int) -> int:
        nonlocal pos
        if info < 24:
            return info
        size = {24: 1, 25: 2, 26: 4, 27: 8}[info]
        n = int.from_bytes(data[pos:pos + size], "big")
        pos += size
        return n

    def item():
        nonlocal pos
        b = data[pos]
        pos += 1
        major, info = b >> 5, b & 31
        if major == 7:
            return {20: False, 21: True, 22: None}[info]
        n = arg(info)
        if major == 0:
            return n
        if major == 1:
            return -1 - n
        if major in (2, 3):
            raw = data[pos:pos + n]
            pos += n
            return raw.decode() if major == 3 else bytes(raw)
        if major == 4:
            return [item() for _ in range(n)]
        if major == 5:
            return {item(): item() for _ in range(n)}
        if major == 6 and n == 258:
            return set(item())
        raise ValueError(f"unsupported CBOR item 0x{b:02x}")

    out = []
    while pos < len(data):
        out.append(item())
    return out


def _mp_enc(v, out: bytearray) -> None:
    if v is None or isinstance(v, bool):
        out.append({None: 0xC0, False: 0xC2, True: 0xC3}[v])
    elif isinstance(v, int):
        if 0 <= v < 128:
            out.append(v)
        elif -32 <= v < 0:
            out += struct.pack(">b", v)
        elif v >= 0:
            out += b"\xcf" + struct.pack(">Q", v)
        else:
            out += b"\xd3" + struct.pack(">q", v)
    elif isinstance(v, str):
        b = v.encode()
        if len(b) < 32:
            out.append(0xA0 | len(b))
        else:
            out += b"\xdb" + struct.pack(">I", len(b))
        out += b
    elif isinstance(v, list):
        out += bytes([0x90 | len(v)]) if len(v) < 16 else b"\xdd" + struct.pack(">I", len(v))
        for x in v:
            _mp_enc(x, out)
    elif isinstance(v, dict):
        out += bytes([0x80 | len(v)]) if len(v) < 16 else b"\xdf" + struct.pack(">I", len(v))
        for k, x in v.items():
            _mp_enc(k, out)
            _mp_enc(x, out)
    else:
        raise TypeError(type(v))


def msgpack_encode(entries: list[dict]) -> bytes:
    out = bytearray()
    for e in entries:
        _mp_enc(e, out)
    return bytes(out)


_MP_UINT = {0xCC: ">B", 0xCD: ">H", 0xCE: ">I", 0xCF: ">Q",
            0xD0: ">b", 0xD1: ">h", 0xD2: ">i", 0xD3: ">q"}
_MP_LEN = {0xD9: ">B", 0xDA: ">H", 0xDB: ">I", 0xDC: ">H", 0xDD: ">I",
           0xDE: ">H", 0xDF: ">I", 0xC4: ">B", 0xC5: ">H", 0xC6: ">I"}


def msgpack_decode(data: bytes) -> list:
    pos = 0

    def take(fmt: str) -> int:
        nonlocal pos
        (n,) = struct.unpack_from(fmt, data, pos)
        pos += struct.calcsize(fmt)
        return n

    def raw(n: int) -> bytes:
        nonlocal pos
        b = data[pos:pos + n]
        pos += n
        return b

    def item():
        nonlocal pos
        b = data[pos]
        pos += 1
        if b < 0x80:
            return b
        if b >= 0xE0:
            return b - 0x100
        if 0x80 <= b <= 0x8F:
            return {item(): item() for _ in range(b & 0x0F)}
        if 0x90 <= b <= 0x9F:
            return [item() for _ in range(b & 0x0F)]
        if 0xA0 <= b <= 0xBF:
            return raw(b & 0x1F).decode()
        if b in (0xC0, 0xC2, 0xC3):
            return {0xC0: None, 0xC2: False, 0xC3: True}[b]
        if b in _MP_UINT:
            return take(_MP_UINT[b])
        if b in _MP_LEN:
            n = take(_MP_LEN[b])
            if b in (0xD9, 0xDA, 0xDB):
                return raw(n).decode()
            if b in (0xC4, 0xC5, 0xC6):
                return raw(n)
            if b in (0xDC, 0xDD):
                return [item() for _ in range(n)]
            return {item(): item() for _ in range(n)}
        raise ValueError(f"unsupported MessagePack byte 0x{b:02x}")

    out = []
    while pos < len(data):
        out.append(item())
    return out


CODECS = {
    "jsonl": (jsonl_encode, jsonl_decode),
    "cbor": (cbor_encode, cbor_decode),
    "msgpack": (msgpack_encode, msgpack_decode),
}
