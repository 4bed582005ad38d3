"""Seeded op lists for the two workloads.

The seed picks every op parameter and the op order; the harness sees only
the resulting list and runs all of it. Ops come in blocks with a fixed mix,
so runs on different seeds measure the same kind of work. The number of
blocks follows from --seconds and a block's time measured when the
benchmark was defined (BLOCK_S), never from the speed of the program under
test: a faster program runs the same ops, so medians and the tail are taken
over the same sample size on every commit. The first catalog block runs in
a fixed order of kinds (its parameters are still seeded): JIT warmth still
grows along it, and a seeded order would spread the figures without
measuring anything.

Each list carries a cold warm-up, run once when the JVM starts, and a warm
one, run by every later set-up.
"""
import json
import math
import random

WORKLOADS = ("catalog", "corpus")

# One catalog block: the core mix as (kind, finishing action), a fifth of
# its ops repeating an earlier op's table and region, and one export round
# trip per format. Box, sphere and take ops run faster than the others and
# the exports slower; the mix puts the median op in the middle of the
# middle group, where it does not jump between groups from run to run.
CATALOG_FRESH = (("box", "collect"), ("sphere", "collect"), ("take", "collect"),
                 ("cone", "count"), ("cone", "collect"), ("cone", "collect"),
                 ("link", "collect"), ("link", "collect"), ("lightcone", "count"),
                 ("lightcone", "collect"), ("healpix", "collect"), ("healpix", "collect"))
# kinds of the repeated ops in each block
CATALOG_REPEATS = ("box", "cone", "link", "lightcone")
EXPORT_FORMATS = ("parquet", "hdf5", "arrow")
EXPORT_SLOTS = 2
# Slice size range in rows per format: HDF5, the slowest writer, gets the
# smallest slices.
EXPORT_ROWS = {"parquet": (15_000, 20_000), "hdf5": (4_000, 5_000),
               "arrow": (15_000, 20_000)}
LINEITEM_ORDERKEYS = 150_000  # l_orderkey is 0..149999, four items per order

# SparkEntry.queries entries of the operator tier, by family.
CORPUS = {
    "q26_minhash_pairs": "dedup",
    "q27_simhash_pairs": "dedup",
    "q35_dedup_pipeline": "dedup",
    "q112_line_dedup": "dedup",
    "q81_topk_ngrams": "stats",
    "q97_bigram_lm": "stats",
    "q91_kmeans": "lloyd",
    "q101_semantic_dedup": "lloyd",
    "q33_ann_ivf": "ann",
    "q119_compressed_ann": "ann",
}
# Warm-ups run on the sf0.01 tables: the cold one takes dedup, both ANN
# entries (q33's IVF build runs the Lloyd iterations) and, run after it, the
# warm one's stats query; a warm set-up runs only that.
CORPUS_COLD_WARMUP = ("q26_minhash_pairs", "q33_ann_ivf", "q119_compressed_ann")
CORPUS_WARMUP = ("q81_topk_ngrams",)

# Op time of one block (a catalog block, a corpus pass) on a 4-vCPU VM when
# the benchmark was defined; they turn --seconds into a block count. A run
# has at least MIN_OPS ops, the fewest the tail rule (ten samples beyond the
# tail percentile) can work with.
BLOCK_S = {"catalog": 12.5, "corpus": 20.5}
BLOCK_OPS = {"catalog": len(CATALOG_FRESH) + len(CATALOG_REPEATS) + len(EXPORT_FORMATS),
             "corpus": len(CORPUS)}
MIN_OPS = 11


def blocks(workload, seconds):
    """Blocks a run of `seconds` measures: fixed by the arguments alone."""
    return max(math.ceil(MIN_OPS / BLOCK_OPS[workload]), round(seconds / BLOCK_S[workload]))


def _log_uniform(rng, lo, hi):
    return math.exp(rng.uniform(math.log(lo), math.log(hi)))


def _key(op):
    return op["kind"] + ":" + json.dumps(
        {k: v for k, v in op.items() if k not in ("kind", "key")}, sort_keys=True)


def catalog_op(rng, kind, finish):
    op = {"kind": kind, "finish": finish}
    if kind == "box":
        # selectivity 1%..3% of the 100^3 box, edges jittered
        edge = 100.0 * _log_uniform(rng, 0.01, 0.03) ** (1 / 3)
        u, v = rng.uniform(0.8, 1.25), rng.uniform(0.8, 1.25)
        for axis, e in zip("xyz", (edge * u, edge * v, edge / (u * v))):
            lo = rng.uniform(0.0, 100.0 - e)
            op[axis + "0"], op[axis + "1"] = lo, lo + e
        op.update(units=rng.choice(("scalefree", "comoving", "physical")),
                  price_min=rng.uniform(1000, 50000))
    elif kind == "sphere":
        sel = _log_uniform(rng, 0.01, 0.03)
        op.update(cx=rng.uniform(0, 100), cy=rng.uniform(0, 100), cz=rng.uniform(0, 100),
                  r=100.0 * (3 * sel / (4 * math.pi)) ** (1 / 3),
                  units=rng.choice(("scalefree", "comoving", "physical")),
                  price_min=rng.uniform(1000, 50000))
    elif kind == "cone":
        op.update(ra=rng.uniform(0, 360), dec=rng.uniform(-60, 60),
                  radius=rng.uniform(5, 12), price_min=rng.uniform(1000, 100000))
    elif kind == "link":
        op.update(price_min=rng.uniform(1000, 100000), qty_min=rng.uniform(45, 50))
    elif kind == "lightcone":
        z_min, z_max = rng.choice(((0.2, 0.8), (0.5, 1.6)))
        op.update(z_min=z_min, z_max=z_max, price_min=rng.uniform(1000, 300000))
    elif kind == "healpix":
        nside, nside_to = rng.choice(((16, 4), (16, 8), (32, 4), (32, 8)))
        op.update(nside=nside, nside_to=nside_to)
    elif kind == "take":
        start = rng.randrange(0, 140_000)
        op.update(start=start, end=start + rng.randrange(500, 2000))
    else:
        raise ValueError(kind)
    op["key"] = _key(op)
    return op


def export_op(rng, fmt, rows, slot):
    keys = min(LINEITEM_ORDERKEYS, round(rows / 4))
    lo = rng.randrange(0, LINEITEM_ORDERKEYS - keys + 1)
    op = {"kind": "export", "format": fmt, "slot": slot, "lo": lo, "hi": lo + keys}
    edge = 100.0 * _log_uniform(rng, 0.01, 0.2) ** (1 / 3)
    for axis in "xyz":
        a0 = rng.uniform(0.0, 100.0 - edge)
        op[axis + "0"], op[axis + "1"] = a0, a0 + edge
    op["key"] = _key(op)
    return op


def catalog(seed, n_blocks):
    rng = random.Random(f"catalog/{seed}")
    cold = [catalog_op(rng, k, "collect") for k in dict(CATALOG_FRESH)]
    cold += [export_op(rng, f, 2_000, EXPORT_SLOTS) for f in EXPORT_FORMATS]
    warm = [catalog_op(rng, "box", "collect")]
    ops = []
    for _ in range(n_blocks):
        block = [catalog_op(rng, k, f) for k, f in CATALOG_FRESH]
        rng.shuffle(block)
        for kind in CATALOG_REPEATS:
            src = rng.choice([o for o in ops + block if o["kind"] == kind])
            first = next((i + 1 for i, o in enumerate(block) if o is src), 0)
            block.insert(rng.randrange(first, len(block) + 1), dict(src, repeat=True))
        for fmt in EXPORT_FORMATS:
            op = export_op(rng, fmt, _log_uniform(rng, *EXPORT_ROWS[fmt]),
                           rng.randrange(EXPORT_SLOTS))
            block.insert(rng.randrange(len(block) + 1), op)
        ops.extend(block)
    n = len(ops) // n_blocks
    order = [k for k, _ in CATALOG_FRESH] + ["export"]
    ops[:n] = sorted(ops[:n], key=lambda o: (order.index(o["kind"]), bool(o.get("repeat")),
                                              o.get("finish", ""), o.get("format", "")))
    return {"workload": "catalog", "cold_warmup": cold, "warmup": warm, "ops": ops}


def corpus(seed, passes):
    rng = random.Random(f"corpus/{seed}")
    names = sorted(CORPUS)

    def op(q):
        return {"kind": q, "query": q, "family": CORPUS[q], "key": q}

    ops = [op(q) for _ in range(passes) for q in rng.sample(names, len(names))]
    return {"workload": "corpus", "cold_warmup": [op(q) for q in CORPUS_COLD_WARMUP],
            "warmup": [op(q) for q in CORPUS_WARMUP],
            "ops": ops}


def generate(workload, seed, seconds):
    return {"catalog": catalog, "corpus": corpus}[workload](seed, blocks(workload, seconds))
