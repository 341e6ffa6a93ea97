"""Seeded input generators for the benchmark workloads.

Inputs are pure functions of ``(workload, size, seed)``.  They are
written as parquet tables partitioned by ``part`` (one partition per
batch, several files per partition so one batch fans out over every
task slot) and cached under ``.perfbench/cache`` so a rerun with the
same seed skips generation.  Generation uses numpy and pyarrow only: no
Spark session is started, so it never warms the engine that the set-up
and the timed phase measure.

- images (``assign`` and ``tiles``): the ``input_hint`` shape of
  ``pytrs_spark.datagen.gen_images``, built with the same per-row
  functions (``splitmix64``, ``phash_to_xy``, ``xy_to_tile``) over an id
  range offset by the seed.  Part 0, used only for warm-up batches, is
  a fifth of the size of the timed parts.  One row in ten (picked by a
  per-row hash, so every batch holds its share) is aimed into the dense
  section T154N-R97W sec 14.
- descriptions (``parse``): thousands of seeded townships, six documents
  each, in the four ``datagen`` description styles.  Every section is
  split into a random partition of its 16 quarter-quarters, written in
  varied aliquot notation, so almost every tract text is distinct.
"""

import json
import multiprocessing
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pytrs_spark import datagen, imagecodec

FILES_PER_PART = 4
GEN_PROCESSES = 4
WARMUP_DIVISOR = 5                  # the warm-up part of an image table is 1/5
SEED_ID_STRIDE = 100_000_000        # image ids of seed s start at s * stride
SKEW_MODULUS = 10                   # one row in ten goes to the dense section
_SKEW_SALT = np.uint64(29)

QUARTERS = ('NE', 'NW', 'SE', 'SW')
HALVES = {'N': ('NE', 'NW'), 'S': ('SE', 'SW'),
          'E': ('NE', 'SE'), 'W': ('NW', 'SW')}
QQS = tuple(a + b for b in QUARTERS for a in QUARTERS)   # NENE, NWNE, ...


# --- images ------------------------------------------------------------

def _dense_section_origin():
    """South-west corner of the dense section (datagen's skew target)."""
    sec = datagen.DENSE_SEC
    row = (sec - 1) // 6                 # 0 = north row
    i = (sec - 1) % 6
    col = 5 - i if row % 2 == 0 else i   # 0 = west column
    return (-6.0 * datagen.DENSE_RGE + col,
            6.0 * (datagen.DENSE_TWP - 1) + (5 - row))


def _xy_to_phash(x, y):
    """Inverse of ``datagen.phash_to_xy`` on the covered plane."""
    u = (x - datagen.X0) / (datagen.X1 - datagen.X0)
    v = (y - datagen.Y0) / (datagen.Y1 - datagen.Y0)
    hi = np.floor(u * 2.0 ** 31).astype(np.int64)
    lo = np.floor(v * 2.0 ** 31).astype(np.int64)
    return (hi << 31) | lo


def image_rows(idx: np.ndarray, with_bytes: bool) -> dict:
    """Columns of the images table for the absolute row ids ``idx``."""
    idx = idx.astype(np.int64)
    uidx = idx.astype(np.uint64)
    raw = datagen.splitmix64(uidx)
    phash = (raw & np.uint64(0x3FFFFFFFFFFFFFFF)).astype(np.int64)
    skewed = datagen.splitmix64(uidx + _SKEW_SALT) \
        % np.uint64(SKEW_MODULUS) == 0
    if skewed.any():
        ju = datagen.splitmix64(uidx[skewed] + np.uint64(7)) \
            .astype(np.float64) / 2.0 ** 64
        jv = datagen.splitmix64(uidx[skewed] + np.uint64(13)) \
            .astype(np.float64) / 2.0 ** 64
        sx0, sy0 = _dense_section_origin()
        phash[skewed] = _xy_to_phash(sx0 + ju, sy0 + jv)
    x, y = datagen.phash_to_xy(phash)
    trs, qq = datagen.xy_to_tile(x, y)
    image_id = [f'img{i:012d}' for i in idx]
    w = np.array([16, 32, 64], dtype=np.int32)[idx % 3]
    h = np.array([16, 24, 48], dtype=np.int32)[idx % 3]
    fmt = np.where(idx % 17 == 0, 'jpeg', 'png')
    if with_bytes:
        blobs = [imagecodec.encode(
            np.random.Generator(np.random.PCG64(int(i))).integers(
                0, 256, size=(int(hi), int(wi), 3), dtype=np.uint8),
            str(fi)) for i, wi, hi, fi in zip(idx, w, h, fmt)]
    else:
        blobs = [None] * len(idx)
    return {
        'image_id': image_id,
        'bytes': blobs,
        'w': w, 'h': h, 'fmt': fmt.tolist(),
        'caption': [f'caption for {iid} in {t}:{q}'
                    for iid, t, q in zip(image_id, trs, qq)],
        'phash': phash,
    }


_IMAGE_SCHEMA = pa.schema([
    ('image_id', pa.string()), ('bytes', pa.binary()),
    ('w', pa.int32()), ('h', pa.int32()), ('fmt', pa.string()),
    ('caption', pa.string()), ('phash', pa.int64())])


# --- descriptions ------------------------------------------------------

def _qq_token(rng, p, q):
    """Quarter-quarter ``p`` of quarter ``q`` in one of the notations
    the default (not ``clean_qq``) tract parser reads."""
    return rng.choice((f'{p}/4{q}/4', f'{p}4{q}4', f'{p}/4 {q}/4'))


def _quarter_tokens(rng, q):
    """Aliquot tokens covering exactly quarter ``q`` at QQ depth."""
    k = rng.randrange(6)
    if k == 0:
        return [rng.choice((f'{q}/4', f'{q}4'))]
    if k in (1, 2):                     # two halves of the quarter
        a, b = ('N', 'S') if k == 1 else ('E', 'W')
        return [rng.choice((f'{a}2{q}', f'{a}/2{q}/4')),
                rng.choice((f'{b}2{q}', f'{b}/2{q}/4'))]
    if k == 3:                          # four quarter-quarters
        return [_qq_token(rng, p, q) for p in QUARTERS]
    half = rng.choice('NSEW')           # one half plus two QQs
    rest = [p for p in QUARTERS if p not in HALVES[half]]
    return [rng.choice((f'{half}2{q}', f'{half}/2{q}/4'))] \
        + [_qq_token(rng, p, q) for p in rest]


def section_tokens(rng) -> list:
    """A random partition of one section into aliquots (depth <= 2)."""
    k = rng.randrange(8)
    if k == 0:
        return ['ALL']
    if k in (1, 2):                     # two halves, each whole or split
        halves = ('N', 'S') if k == 1 else ('E', 'W')
        toks = []
        for h in halves:
            if rng.random() < 0.5:
                toks.append(rng.choice((f'{h}/2', f'{h}2')))
            else:
                for q in HALVES[h]:
                    toks += _quarter_tokens(rng, q)
    else:
        toks = [t for q in QUARTERS for t in _quarter_tokens(rng, q)]
    rng.shuffle(toks)
    return toks


def _doc_text(rng, twp, ns, rge, ew, block, style):
    """One document over sections 6*block+1 .. 6*block+6, in one of the
    four ``datagen`` description styles."""
    secs = range(6 * block + 1, 6 * block + 7)
    descs = [', '.join(section_tokens(rng)) for _ in secs]
    tr = f'T{twp}{ns.upper()}-R{rge}{ew.upper()}'
    if style == 0:      # TRS_desc
        return f'{tr} ' + ', '.join(
            f'Sec {s}: {d}' for s, d in zip(secs, descs))
    if style == 1:      # desc_STR
        return ', '.join(
            f'{d} of Sec {s}' for s, d in zip(secs, descs)) + f', {tr}'
    if style == 2:      # TRS_desc, wordy township/range, lots alongside
        ns_w = 'North' if ns == 'n' else 'South'
        ew_w = 'West' if ew == 'w' else 'East'
        body = ', '.join(
            f'Sec {s}: ' + ('Lots 1 - 2, ' if s % 3 == 0 else '') + d
            for s, d in zip(secs, descs))
        return f'Township {twp} {ns_w}, Range {rge} {ew_w} {body}'
    return f'{tr} ' + ', '.join(       # TR_desc_S
        f'{d} of Sec {s}' for s, d in zip(secs, descs))


def pick_townships(seed: int, n: int) -> list:
    """``n`` distinct seeded townships ``(twp, ns, rge, ew)``."""
    rng = random.Random(seed)
    space = 99 * 2 * 99 * 2
    picks = rng.sample(range(space), n)
    out = []
    for p in picks:
        p, twp = divmod(p, 99)
        p, ns = divmod(p, 2)
        rge, ew = divmod(p, 2)
        out.append((twp + 1, 'ns'[ns], rge + 1, 'we'[ew]))
    return out


def township_docs(seed: int, townships) -> list:
    """Six documents per township, styles and partitions seeded."""
    rng = random.Random(seed * 7919 + 1)
    docs = []
    for twp, ns, rge, ew in townships:
        for block in range(6):
            docs.append(_doc_text(rng, twp, ns, rge, ew, block,
                                  rng.randrange(4)))
    return docs


# --- materialization ---------------------------------------------------

def _write_part(table: pa.Table, root: str, part: int) -> None:
    d = os.path.join(root, f'part={part}')
    os.makedirs(d)
    step = -(-table.num_rows // FILES_PER_PART)
    for j in range(FILES_PER_PART):
        pq.write_table(table.slice(j * step, step),
                       os.path.join(d, f'f{j}.parquet'))


def image_part_range(part: int, rows_per_part: int):
    """(first, end) offsets of a part's ids.  Part 0 only warms the
    engine up and holds ``rows_per_part // WARMUP_DIVISOR`` rows; the
    timed parts follow it back to back."""
    warm = rows_per_part // WARMUP_DIVISOR
    if part == 0:
        return 0, warm
    first = warm + (part - 1) * rows_per_part
    return first, first + rows_per_part


def _image_part(args):
    root, base, part, rows_per_part, with_bytes = args
    first, end = image_part_range(part, rows_per_part)
    idx = np.arange(base + first, base + end, dtype=np.int64)
    _write_part(pa.table(image_rows(idx, with_bytes), schema=_IMAGE_SCHEMA),
                root, part)


def _build_images(root, seed, n_parts, rows_per_part, with_bytes):
    """One part per task on a small spawn pool (parts are independent)."""
    base = seed * SEED_ID_STRIDE
    tasks = [(root, base, p, rows_per_part, with_bytes)
             for p in range(n_parts)]
    ctx = multiprocessing.get_context('spawn')
    with ctx.Pool(min(GEN_PROCESSES, os.cpu_count() or 1)) as pool:
        pool.map(_image_part, tasks)
        pool.close()
        pool.join()
    return {'first_id': base}


def _build_descs(root, seed, n_parts, twps_per_part):
    twps = pick_townships(seed, n_parts * twps_per_part)
    docs = township_docs(seed, twps)
    per = 6 * twps_per_part
    for p in range(n_parts):
        _write_part(pa.table({
            'doc_id': pa.array(range(p * per, (p + 1) * per),
                               pa.int64()),
            'raw_desc': docs[p * per:(p + 1) * per]}), root, p)
    return {'townships': [list(t) for t in twps]}


def cache_path(cache_dir: str, workload: str, size: dict,
               seed: int) -> str:
    """Directory of the cached input of ``(workload, size, seed)``."""
    key = '-'.join([workload, *(f'{k}{size[k]}' for k in sorted(size)),
                    f's{seed}'])
    return os.path.join(cache_dir, key)


def load_manifest(final: str):
    """The manifest of the cached input in directory ``final`` (with
    ``table``, the path of its table, added), or None if it is not
    built."""
    try:
        with open(os.path.join(final, 'manifest.json')) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        return None
    return {**manifest, 'table': os.path.join(final, 'table')}


def materialize(cache_dir: str, workload: str, size: dict,
                seed: int) -> dict:
    """Build (or reuse) the cached input of one workload; returns its
    manifest (see :func:`load_manifest`)."""
    final = cache_path(cache_dir, workload, size, seed)
    cached = load_manifest(final)
    if cached is not None:
        return cached
    tmp = final + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    table = os.path.join(tmp, 'table')
    if workload == 'parse':
        extra = _build_descs(table, seed, size['parts'], size['rows'])
    else:
        extra = _build_images(table, seed, size['parts'], size['rows'],
                              with_bytes=(workload == 'tiles'))
    with open(os.path.join(tmp, 'manifest.json'), 'w') as f:
        json.dump({'workload': workload, 'seed': seed, **size, **extra}, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return load_manifest(final)


def main(argv=None) -> None:
    """Materialize one workload's input (run as a child process by
    ``run.py`` so generation leaves nothing in the measured process)."""
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--cache-dir', required=True)
    ap.add_argument('--workload', required=True,
                    choices=('assign', 'parse', 'tiles'))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--size', required=True,
                    help='JSON object, e.g. {"parts": 40, "rows": 50000}')
    args = ap.parse_args(argv)
    materialize(args.cache_dir, args.workload, json.loads(args.size),
                args.seed)


if __name__ == '__main__':
    main()
