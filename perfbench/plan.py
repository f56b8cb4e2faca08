"""Seeded inputs of a run: the query order of each registry pass and the
op sequence of the store_ops loop. The same seed always gives the same
plan; the JVM client only executes it."""
import random

# One store_ops block: 60% GET, 25% prefix scan, 15% CopyRow. Of the 12
# GETs, one uses an in-range absent key (~10%) and two read a copied key
# back from the destination store (1 in 6). The client runs whole blocks,
# so every run has exactly this mix and every op type.
BLOCK = (["get/present"] * 9 + ["get/absent"] + ["get/readback"] * 2
         + ["scan"] * 5 + ["copy"] * 3)


def query_orders(n_queries, seed, n_passes):
    """One seeded permutation of range(n_queries) per pass."""
    rng = random.Random(f"passes:{seed}")
    orders = []
    for _ in range(n_passes):
        order = list(range(n_queries))
        rng.shuffle(order)
        orders.append(order)
    return orders


def store_ops(seed, n_blocks):
    """The op sequence: dicts with kind (get, scan, copy), sub (present,
    absent, readback, or empty) and draw, a 62-bit number the client maps
    to a key or a scan start. Each block of len(BLOCK) ops is a seeded
    shuffle of BLOCK; the first op is a copy, so every read-back has a
    copied key to read."""
    rng = random.Random(f"ops:{seed}")
    ops = []
    for b in range(n_blocks):
        kinds = list(BLOCK)
        rng.shuffle(kinds)
        if b == 0:
            kinds.remove("copy")
            kinds.insert(0, "copy")
        for k in kinds:
            kind, _, sub = k.partition("/")
            ops.append({"kind": kind, "sub": sub, "draw": rng.getrandbits(62)})
    return ops
