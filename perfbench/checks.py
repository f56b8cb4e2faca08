"""Output checks. Each returns one failure reason per failed op, so a
mismatch, an exception and a timeout all count the same way."""

# value columns of a lineitem row: every row becomes 9 cells
CELLS_PER_ROW = 9


DIGEST = ("rows", "h1", "h2")


def check_registry(ops, goldens):
    """Compares each query's digest (row count and two summed row hashes)
    with its golden."""
    failures = []
    for op in ops:
        q = op["q"]
        if op.get("err"):
            failures.append(f"{q} pass {op['pass']}: {op['err']}")
            continue
        g = goldens.get(q)
        if g is None:
            failures.append(f"{q}: no golden digest")
            continue
        bad = [f for f in DIGEST if str(op.get(f)) != str(g[f])]
        if bad:
            failures.append(f"{q} pass {op['pass']}: digest differs in {', '.join(bad)}")
    return failures


def decode_key(hexkey):
    """16-byte lineitem row key -> (orderkey, linenumber)."""
    return int(hexkey[:16], 16), int(hexkey[16:32], 16)


def encode_key(orderkey, linenumber):
    return f"{orderkey:016x}{linenumber:016x}"


def check_store(ops, keys, base_ts):
    """Replays the op sequence against a model of both stores. `keys` are
    the fixture's [orderkey, linenumber, multiplicity] triples: a GET of a
    key returns 9 cells per fixture row with that key, all of that key, a
    prefix scan 9 per row in its orderkey range, from the range's first
    key to its last, and a read-back 9 per row for every copy of the key,
    each copy carrying its rewritten ts."""
    mult = {(o, l): m for o, l, m in keys}
    rows_of_orderkey = {}
    for (o, _), m in mult.items():
        rows_of_orderkey[o] = rows_of_orderkey.get(o, 0) + m
    copies = {}
    failures = []
    for op in ops:
        tag = f"op {op['i']} {op['kind']}{'/' + op['sub'] if op['sub'] else ''}"
        if op.get("err"):
            failures.append(f"{tag}: {op['err']}")
            continue
        if op["kind"] == "scan":
            want = CELLS_PER_ROW * sum(rows_of_orderkey.get(o, 0) for o in range(op["lo"], op["hi"]))
            want_ts = None
            inside = sorted(k for k in mult if op["lo"] <= k[0] < op["hi"])
            want_keys = [encode_key(*k) for k in inside[:1] + inside[-1:]]
        elif op["kind"] == "copy":
            want = CELLS_PER_ROW * mult.get(decode_key(op["key"]), 0)
            want_ts = want_keys = None
        else:
            key = decode_key(op["key"])
            if op["store"] == "dst":
                ts = copies.get(op["key"], [])
                want = CELLS_PER_ROW * mult.get(key, 0) * len(ts)
                want_ts = sorted(set(ts))
            else:
                want = CELLS_PER_ROW * mult.get(key, 0)
                want_ts = [base_ts] if want else []
            want_keys = [op["key"]] if want else []
        if op["cells"] != want:
            failures.append(f"{tag}: {op['cells']} cells, expected {want}")
        elif want_ts is not None and sorted(op["ts"]) != want_ts:
            failures.append(f"{tag}: ts {op['ts']}, expected {want_ts}")
        elif want_keys is not None and op["keys"] != want_keys:
            failures.append(f"{tag}: row keys {op['keys']}, expected {want_keys}")
        if op["kind"] == "copy" and op["cells"] == want:
            copies.setdefault(op["key"], []).append(op["copy_ts"])
    return failures
