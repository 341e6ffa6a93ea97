"""The three benchmark workloads: set-up, one batch, and the oracle.

Every batch is one partition (``part``) of the seeded input table, run
to a verified result through the engine's public functions.  A batch
returns a small dict of counts and checksums; the oracle, computed once
after the timed phase in plain SQL over the same input (never through
the engine's parse, grid or join code), gives the values each batch must
match.  ``check`` compares the two and returns the failed checks.

With tracing on, the benchmark materializes the output of each layer
(persist + count) under that layer's span and job group, so the traced
run attributes time and task metrics per layer; the untraced run lets
the engine fuse the layers.
"""

import os
import time

from pyspark.sql import functions as F

from pytrs_spark import datagen, iceberg, lineage, pipeline
from pytrs_spark.operators.parse import parse_documents_full
from pytrs_spark.spatial.grid import build_polygon_layer, with_anchor
from pytrs_spark.spatial.join import (assign_tiles_local, cell_histogram,
                                      spatial_join)
from pytrs_spark.spatial.knn import knn_section_corners
from pytrs_spark.spatial.rollup import tile_pyramid
from pytrs_spark.raster import materialize_tiles

from gen import QQS

KNN_K = 4
LINEAGE_BUCKETS = 8


def _assign_ck():
    """Order-free checksum of (image_id, trs, qq) rows."""
    return F.bit_xor(F.xxhash64('image_id', 'trs', 'qq'))


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _materialize(tr, df, rows: dict, layer: str):
    """Traced run: persist ``df`` and count it (the layer's output)."""
    if not tr.enabled:
        return df, None
    df = df.persist()
    rows[layer] = df.count()
    return df, df


def _unpersist(*dfs):
    for df in dfs:
        if df is not None:
            df.unpersist()


def _caption_oracle(spark, images, parts):
    """Per part: count, tile checksum and distinct tiles per pyramid
    level, from the (trs, qq) each caption embeds."""
    images.filter(F.col('part').isin(list(parts))) \
        .createOrReplaceTempView('pb_images')
    rows = spark.sql(r"""
        WITH t AS (
          SELECT part, image_id,
                 regexp_extract(caption, ' in ([0-9a-z]+):', 1) AS trs,
                 regexp_extract(caption, ':([A-Z]+)$', 1) AS qq
          FROM pb_images),
        leaf AS (
          SELECT part, trs, qq, count(*) AS n,
                 bit_xor(xxhash64(image_id, trs, qq)) AS ck
          FROM t GROUP BY part, trs, qq)
        SELECT part, sum(n) AS n, bit_xor(ck) AS ck, count(*) AS n_leaf,
               count(DISTINCT trs) AS n_sec,
               count(DISTINCT substring(trs, 1, length(trs) - 2)) AS n_twp
        FROM leaf GROUP BY part""").collect()
    return {r['part']: r.asDict() for r in rows}


class Workload:
    name = ''
    size = {}           # {'parts': batches in the input, 'rows': per batch}
    warmup_parts = (0,)  # parts of the untimed batches before timing
    uses_polygons = True

    def rows_per_batch(self, manifest) -> int:
        return manifest['rows']

    def prepare(self, spark, manifest, tr, timings):
        """Table open, polygon-layer build and first-call join prep."""
        table = iceberg.read_table(spark, manifest['table'])
        polys = self._polygons(spark, tr, timings)
        self._join_prep(table, polys, timings)
        return {'table': table, 'polys': polys}

    def _polygons(self, spark, tr, timings):
        """The serving polygon layer, built once from the repeated
        ``gen_descs`` corpus and held in memory.  Traced, the parse and
        the polygon build are materialized under their own layers."""
        t0 = time.perf_counter()
        descs = datagen.gen_descs(spark)
        if tr.enabled:
            rows = {}
            with tr.layer('parse'):
                tracts, held = _materialize(
                    tr, parse_documents_full(descs), rows, 'parse')
            with tr.layer('grid'):
                polys = build_polygon_layer(tracts).persist()
                rows['grid'] = polys.count()
            _unpersist(held)
            timings['rows'] = rows
        else:
            polys = pipeline.polygon_layer_from_descs(descs).persist()
            polys.count()
        timings['polygon_build_s'] = time.perf_counter() - t0
        return polys

    def _join_prep(self, images, polys, timings):
        """First-call join prep: the fused assignment collects the
        polygon layer and builds its cell index when the plan is built,
        memoized on ``polys``."""
        t0 = time.perf_counter()
        pipeline.assign_images_to_tiles(
            images.filter(F.col('part') == 0), polys, payload_cols=())
        timings['join_prep_s'] = time.perf_counter() - t0

    def read_back(self, spark, results):
        """Fill in what the batches committed to storage (none here)."""

    def probe(self, spark, st, last):
        """Join-layer ratios on the batch of result ``last`` (traced run
        only)."""
        if not self.uses_polygons:
            return {}
        imgs = st['table'].filter(F.col('part') == last['part'])
        pts = with_anchor(imgs)
        n = imgs.count()
        cand = spatial_join(pts, st['polys']).count()
        assigned = pipeline.assign_images_to_tiles(
            imgs, st['polys'], payload_cols=()).count()
        hot = cell_histogram(pts).agg(F.max('count')).first()[0]
        return {'join.candidates_per_image': cand / n,
                'join.unmatched_rows': n - assigned,
                'join.hot_cell_rows': hot}


class Assign(Workload):
    """Bytes-free images -> tile per image -> tile pyramid."""
    name = 'assign'
    # a batch pays about 1.1 s of planning and job start-up whatever its
    # size; at 500k rows the per-row grid, join and rollup work is about
    # a third of it (at 100k rows it was about a tenth)
    size = {'parts': 3, 'rows': 500_000}
    # the first batches run while the JIT compiles the per-batch planning
    # and join code: two small ones (part 0 is 100k rows), then one full
    # size; latency still drifts down over the first timed batches
    warmup_parts = (0, 0, 1)

    def run_batch(self, spark, st, part, tr):
        rows = {}
        imgs = st['table'].filter(F.col('part') == part)
        with tr.layer('grid'):
            src, held = _materialize(tr, with_anchor(imgs), rows, 'grid')
        with tr.layer('join'):
            tiles = pipeline.assign_images_to_tiles(
                src if held is not None else imgs, st['polys'],
                payload_cols=()).persist()
            r = tiles.agg(F.count('*').alias('n'),
                          _assign_ck().alias('ck')).first()
            rows['join'] = r['n']
        with tr.layer('rollup'):
            levels = {x['level']: (x['n_images'], x['nodes'])
                      for x in tile_pyramid(tiles).groupBy('level').agg(
                          F.sum('n_images').alias('n_images'),
                          F.count('*').alias('nodes')).collect()}
            rows['rollup'] = sum(v[1] for v in levels.values())
        _unpersist(tiles, held)
        return {'n': r['n'], 'ck': r['ck'], 'levels': levels,
                'rows': rows}

    def oracle(self, spark, st, manifest, parts):
        return _caption_oracle(spark, st['table'], parts)

    def check(self, res, exp, manifest) -> list:
        bad = []
        if res['n'] != exp['n'] or res['ck'] != exp['ck']:
            bad.append('tile checksum differs from the captions')
        nodes = {3: exp['n_leaf'], 2: exp['n_sec'], 1: exp['n_twp'], 0: 1}
        for lvl, want in nodes.items():
            if res['levels'].get(lvl) != (exp['n'], want):
                bad.append(f'pyramid level {lvl} is wrong')
        return bad


class Parse(Workload):
    """Unique legal descriptions -> polygon layer."""
    name = 'parse'
    size = {'parts': 48, 'rows': 50}        # rows = townships per batch
    uses_polygons = False

    def rows_per_batch(self, manifest) -> int:
        return 6 * manifest['rows']         # six documents per township

    def prepare(self, spark, manifest, tr, timings):
        return {'table': iceberg.read_table(spark, manifest['table'])}

    def run_batch(self, spark, st, part, tr):
        rows = {}
        docs = st['table'].filter(F.col('part') == part)
        def checksum(polys):
            return polys.agg(F.count('*').alias('n'),
                             F.bit_xor(F.xxhash64('trs', 'qq'))
                             .alias('ck')).first()

        if tr.enabled:
            with tr.layer('parse'):
                tracts, held = _materialize(
                    tr, parse_documents_full(docs), rows, 'parse')
            with tr.layer('grid'):
                r = checksum(build_polygon_layer(tracts))
            _unpersist(held)
        else:
            r = checksum(pipeline.polygon_layer_from_descs(docs))
        rows['grid'] = r['n']
        return {'n': r['n'], 'ck': r['ck'], 'rows': rows}

    def oracle(self, spark, st, manifest, parts):
        per = manifest['rows']
        twps = [(p, *manifest['townships'][p * per + i])
                for p in parts for i in range(per)]
        spark.createDataFrame(
            twps, 'part int, twp int, ns string, rge int, ew string') \
            .createOrReplaceTempView('pb_townships')
        qqs = ', '.join(f"'{q}'" for q in QQS)
        rows = spark.sql(f"""
            SELECT part, count(*) AS n, bit_xor(xxhash64(trs, qq)) AS ck
            FROM (SELECT part,
                         concat(twp, ns, rge, ew, lpad(sec, 2, '0')) AS trs,
                         qq
                  FROM pb_townships
                  LATERAL VIEW explode(sequence(1, 36)) s AS sec
                  LATERAL VIEW explode(array({qqs})) q AS qq)
            GROUP BY part""").collect()
        return {r['part']: r.asDict() for r in rows}

    def check(self, res, exp, manifest) -> list:
        if (res['n'], res['ck']) != (exp['n'], exp['ck']):
            return ['(trs, qq) set differs from 36 sections x 16 QQs']
        return []


class Tiles(Workload):
    """Images with bytes -> per-aliquot raster tiles, corner kNN and a
    checkpointed assignment commit."""
    name = 'tiles'
    # about 4.7 s of Spark jobs per batch whatever its size plus about
    # 1.3 ms per image; 1,500 images keep three timed batches in a run
    size = {'parts': 5, 'rows': 1_500}
    # the first batch of a run is cold (about 1.5 times as slow as the
    # next); latency keeps falling over the next few while the JIT
    # compiles, faster after one full-size batch than after small ones
    warmup_parts = (0, 1)

    def run_batch(self, spark, st, part, tr):
        rows = {}
        out = {}
        work = os.path.join(st['work'], f'b{part}-{st["seq"]}')
        st['seq'] += 1
        tiles_path = os.path.join(work, 'tiles')
        lin_out = os.path.join(work, 'assign')
        lin_log = os.path.join(work, 'lineage')
        imgs = st['table'].filter(F.col('part') == part)
        with tr.layer('grid'):
            pts, held = _materialize(tr, with_anchor(imgs), rows, 'grid')
        with tr.layer('raster'):
            if held is not None:
                with tr.layer('join'):
                    assigned, held_a = _materialize(
                        tr, assign_tiles_local(spatial_join(pts,
                                                            st['polys'])),
                        rows, 'join')
                tiles = materialize_tiles(assigned, imgs)
            else:
                held_a = None
                tiles = pipeline.run_raster(imgs, st['polys'])
            iceberg.write_table(tiles, tiles_path)
        with tr.layer('knn'):
            out['knn'] = knn_section_corners(
                pts if held is not None else imgs, k=KNN_K).count()
            rows['knn'] = out['knn']
        with tr.layer('lineage'):
            out['buckets'] = self._commit(spark, st, part, lin_out,
                                          lin_log, f'b{part}')
        _unpersist(held_a, held)
        out['written_bytes'] = dir_bytes(work)
        out['lineage_bytes'] = dir_bytes(lin_out) + dir_bytes(lin_log)
        out['paths'] = (tiles_path, lin_out, lin_log)
        out['rows'] = rows
        return out

    def read_back(self, spark, results):
        """Read what each batch committed (after the timed phase, so
        the checks cost the batches nothing): tile totals, lineage rows
        and the checksum of the committed assignment -- one job per kind
        over every batch, keyed by the batch's work directory."""
        if not results:
            return
        by_dir = {os.path.basename(os.path.dirname(r['paths'][0])): r
                  for r in results}

        def per_batch(fmt, which, *aggs):
            df = None
            for b, r in by_dir.items():
                part = spark.read.format(fmt).load(r['paths'][which]) \
                    .select('*', F.lit(b).alias('_b'))
                df = part if df is None else df.unionByName(part)
            return df.groupBy('_b').agg(*aggs).collect()

        for t in per_batch(iceberg.table_format(spark), 0,
                           F.sum('n_images').alias('n'),
                           F.count('*').alias('tiles'),
                           F.max('n_images').alias('max')):
            res = by_dir[t['_b']]
            res['raster'] = (t['n'], t['tiles'], t['max'])
            res['rows']['raster'] = t['tiles']
        for m in per_batch(lineage.LINEAGE_FORMAT, 2,
                           F.sum('n_in').alias('n_in'),
                           F.sum('n_out').alias('n_out'),
                           F.count('*').alias('buckets')):
            res = by_dir[m['_b']]
            res['lineage'] = (m['n_in'], m['n_out'], m['buckets'])
            res['rows']['lineage'] = m['n_out']
        for c in per_batch(lineage.LINEAGE_FORMAT, 1,
                           _assign_ck().alias('ck')):
            by_dir[c['_b']]['assign_ck'] = c['ck']

    def oracle(self, spark, st, manifest, parts):
        return _caption_oracle(spark, st['table'], parts)

    def check(self, res, exp, manifest) -> list:
        n = exp['n']
        bad = []
        if 'raster' not in res or 'lineage' not in res:
            return ['nothing committed']
        if res['raster'][0] != n:
            bad.append('tiles hold a different number of images')
        if res['knn'] != KNN_K * n:
            bad.append('kNN returned the wrong number of rows')
        n_in, n_out, buckets = res['lineage']
        if not (n_in == n_out == n) or buckets != res['buckets'] \
                or res['buckets'] != LINEAGE_BUCKETS:
            bad.append('lineage n_in/n_out/buckets are wrong')
        if res.get('assign_ck') != exp['ck']:
            bad.append('committed assignment differs from the captions')
        return bad

    def probe(self, spark, st, last):
        """Also re-run the commit of ``last``: every bucket is already
        committed, so it must commit none."""
        out = super().probe(spark, st, last)
        _, lin_out, lin_log = last['paths']
        t0 = time.perf_counter()
        again = self._commit(spark, st, last['part'], lin_out, lin_log,
                             'resume')
        out['lineage.resume_noop_s'] = time.perf_counter() - t0
        out['lineage.resume_buckets'] = again
        return out

    @staticmethod
    def _commit(spark, st, part, output_path, lineage_path, run_id):
        """Checkpointed commit of the per-image tile assignment of one
        part; returns the buckets committed."""
        return lineage.run_checkpointed(
            spark, st['table'].filter(F.col('part') == part)
            .select('image_id', 'phash', 'caption'),
            lambda df: pipeline.assign_images_to_tiles(
                df, st['polys'], payload_cols=()),
            output_path, lineage_path, n_buckets=LINEAGE_BUCKETS,
            run_id=run_id)


WORKLOADS = {w.name: w for w in (Assign(), Parse(), Tiles())}
