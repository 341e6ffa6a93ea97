#!/usr/bin/env python3
"""Benchmark of the flagship pipeline: one closed-loop client on
``local[nproc]`` (at most 4 cores) issuing verified batches back to back.

    python3 perfbench/run.py --workload assign --seed 1 --seconds 17 --trace 0

Workloads (see ``workloads.py``): ``assign`` (tile assignment + pyramid),
``parse`` (unique descriptions -> polygon layer), ``tiles`` (raster tiles,
corner kNN, checkpointed commit).  Run from the repository root.  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same timed loop untraced and
then traced in one session and reports the per-layer metrics, including
the tracing overhead.  State (input cache, per-run output, Spark scratch)
lives under ``.perfbench/`` in the repository root.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, '.perfbench')
MAX_CORES = 4
DRIVER_MEMORY = '2g'
# The heap is fixed (initial = maximum) and touched at JVM start, so
# heap growth and first-touch page faults land in set-up instead of in
# whichever timed batch first reaches new heap pages.
DRIVER_JAVA_OPTS = f'-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch'
TAIL_BEYOND = 10        # samples beyond the reported tail percentile


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open('/proc/self/stat') as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(')') + 2:].split()[19])
    with open('/proc/uptime') as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf('SC_CLK_TCK')


def tail(latencies):
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it.  Below ``2 * TAIL_BEYOND + 1``
    samples that percentile would fall under the median, so the tail is
    the maximum."""
    lat = sorted(latencies)
    n = len(lat)
    if n <= 2 * TAIL_BEYOND:
        return lat[-1], 100.0
    return lat[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def ensure_input(wl, seed: int) -> dict:
    """The workload's cached input; generated by a child process when
    missing, so generation leaves nothing behind in this process."""
    import gen
    cache = os.path.join(STATE, 'cache')
    final = gen.cache_path(cache, wl.name, wl.size, seed)
    manifest = gen.load_manifest(final)
    if manifest is None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, 'gen.py'),
             '--cache-dir', cache, '--workload', wl.name,
             '--seed', str(seed), '--size', json.dumps(wl.size)],
            check=True, env=_child_env())
        manifest = gen.load_manifest(final)
    return manifest


def _child_env() -> dict:
    env = dict(os.environ)
    pp = env.get('PYTHONPATH', '')
    env['PYTHONPATH'] = ROOT + (os.pathsep + pp if pp else '')
    return env


def start_session(name: str, run_dir: str, event_log: bool):
    from pytrs_spark.session import get_spark
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    scratch = os.path.join(run_dir, 'spark')
    os.makedirs(scratch, exist_ok=True)
    conf = {
        'spark.driver.memory': DRIVER_MEMORY,
        'spark.local.dir': scratch,
        'spark.sql.warehouse.dir': os.path.join(scratch, 'warehouse'),
        'spark.driver.extraJavaOptions':
            f'{DRIVER_JAVA_OPTS} -Djava.io.tmpdir={scratch}',
        'spark.ui.showConsoleProgress': 'false',
    }
    if event_log:
        log_dir = os.path.join(run_dir, 'eventlog')
        os.makedirs(log_dir, exist_ok=True)
        conf.update({'spark.eventLog.enabled': 'true',
                     'spark.eventLog.dir': 'file://' + log_dir,
                     'spark.eventLog.compress': 'false'})
    return get_spark(f'perfbench-{name}', cores=cores,
                     master=f'local[{cores}]', extra_conf=conf)


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end its JVM (which ends the Python workers it forked)
    and wait until no child process of this one is left."""
    from pyspark import SparkContext
    from rss import tree_pids
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the gateway JVM exits on EOF
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.05)


class Loop:
    """Closed loop over the input's batches; part 0 holds the
    warm-up rows and is never timed."""

    def __init__(self, wl, spark, st, manifest):
        self.wl, self.spark, self.st, self.manifest = wl, spark, st, manifest
        self.seq = 0
        self.results = []       # every batch run, warm-up included

    def batch(self, part, tr, timed: bool):
        seq = self.seq
        self.seq += 1
        t0 = time.perf_counter()
        try:
            with tr.layer('batch', seq):
                res = self.wl.run_batch(self.spark, self.st, part, tr)
        except Exception:       # a failed batch counts; the loop goes on
            res = {'error': traceback.format_exc()}
        res.update(part=part, seq=seq, timed=timed, traced=tr.enabled,
                   latency_s=time.perf_counter() - t0)
        self.results.append(res)
        return res

    def timed(self, tr, seconds: float) -> dict:
        """Batches back to back while fewer than ``seconds`` have passed
        (the last one ends after the deadline)."""
        n_parts = self.manifest['parts']
        lat, rows = [], 0
        t0 = time.perf_counter()
        end = t0 + seconds
        while time.perf_counter() < end:
            part = 1 + self.seq % (n_parts - 1)
            res = self.batch(part, tr, timed=True)
            lat.append(res['latency_s'])
            if 'error' not in res:
                rows += self.wl.rows_per_batch(self.manifest)
        elapsed = time.perf_counter() - t0
        value, pct = tail(lat)
        return {'batches': len(lat), 'elapsed_s': elapsed,
                'throughput_rows_per_s': rows / elapsed,
                'batch_p50_s': statistics.median(lat),
                'batch_tail_s': value, 'tail_pct': pct}

    def verify(self) -> int:
        """Check every batch against the oracle; returns the number of
        failed timed batches (and marks each result)."""
        ok = [r for r in self.results if 'error' not in r]
        self.wl.read_back(self.spark, ok)
        exp = self.wl.oracle(self.spark, self.st, self.manifest,
                             sorted({r['part'] for r in ok}))
        for r in self.results:
            if 'error' in r:
                r['failures'] = ['batch raised: '
                                 + r['error'].strip().splitlines()[-1]]
            else:
                r['failures'] = self.wl.check(r, exp[r['part']],
                                              self.manifest)
        return sum(1 for r in self.results if r['timed'] and r['failures'])


def kernel_probes(seed: int) -> dict:
    """Single-process kernel rates: PLSS parse with the memo caches
    cleared, and image decode."""
    import numpy as np
    import gen
    from pytrs_spark import imagecodec
    from pytrs_spark.plss import aliquot, document, simplify, tract, trs
    caches = [f for m in (aliquot, document, simplify, tract, trs)
              for f in vars(m).values() if hasattr(f, 'cache_info')]
    for f in caches:
        f.cache_clear()
    docs = gen.township_docs(seed, gen.pick_townships(seed, 50))
    t0 = time.perf_counter()
    n_tracts = 0
    for r in document.parse_documents_kernel(docs):
        for t in r['tracts']:
            trs.trs_decompose(t['trs'])
            tract.parse_tract(t['desc'])
            n_tracts += 1
    parse_s = time.perf_counter() - t0
    hits = sum(f.cache_info().hits for f in caches)
    lookups = hits + sum(f.cache_info().misses for f in caches)
    blobs = gen.image_rows(
        np.arange(seed * gen.SEED_ID_STRIDE,
                  seed * gen.SEED_ID_STRIDE + 2000), True)['bytes']
    t0 = time.perf_counter()
    for b in blobs:
        imagecodec.decode(b)
    decode_s = time.perf_counter() - t0
    return {'plss.docs_per_s': len(docs) / parse_s,
            'plss.cache_hit_ratio': hits / lookups if lookups else 0.0,
            'plss.tracts_per_doc': n_tracts / len(docs),
            'imagecodec.decode_per_s': len(blobs) / decode_s}


def end_to_end_values(setup_s, peak_rss_mb, loop_stats) -> dict:
    """Every end-to-end metric of an untraced run."""
    return {'setup_s': setup_s, 'peak_rss_mb': peak_rss_mb,
            **{k: loop_stats[k] for k in ('throughput_rows_per_s',
                                          'batch_p50_s', 'batch_tail_s')}}


def layer_metrics(loop, tracer, event_dir, probes, timings, setup_rows,
                  untraced, traced) -> dict:
    """Every per-layer metric of the traced phase: the traced batches
    plus one more set-up, run traced after them (set-up is where
    ``assign`` and ``tiles`` parse)."""
    from spans import LAYERS, TASK_FIELDS, layer_task_metrics
    from workloads import KNN_K
    wl = loop.wl
    tasks = layer_task_metrics(event_dir)
    self_s = tracer.self_times()
    tb = [r for r in loop.results if r['traced'] and 'error' not in r]
    batch_self_s = tracer.self_times({r['seq'] for r in tb})
    per_batch = wl.rows_per_batch(loop.manifest)
    out = {}
    for layer in LAYERS:
        out[f'{layer}.wall_s'] = self_s.get(layer, 0.0)
        for f in TASK_FIELDS:
            out[f'{layer}.{f}'] = tasks.get(layer, {}).get(f, 0)
        out[f'{layer}.rows_out'] = setup_rows.get(layer, 0) \
            + sum(r['rows'].get(layer, 0) for r in tb)
    raster = [r['raster'] for r in tb if 'raster' in r]
    rows_in = len(tb) * per_batch
    out.update({
        'join.prep_s': timings.get('join_prep_s', 0.0),
        'grid.anchor_s': batch_self_s.get('grid', 0.0)
        if wl.uses_polygons else 0.0,
        'iceberg.input_mb': tasks['_input']['mb'],
        'iceberg.input_rows': tasks['_input']['rows'],
        'session.start_s': timings['session_start_s'],
        'raster.tiles_out': sum(t[1] for t in raster),
        'raster.images_per_tile_max': max((t[2] for t in raster),
                                          default=0),
        'knn.dropped_rows': sum(KNN_K * per_batch - r['knn']
                                for r in tb if 'knn' in r),
        'lineage.bytes_written': sum(r.get('lineage_bytes', 0)
                                     for r in tb),
        'lineage.buckets_committed': sum(r.get('buckets', 0) for r in tb),
        'written_bytes_per_row': sum(r.get('written_bytes', 0)
                                     for r in tb) / rows_in
        if rows_in else 0.0,
        'trace.overhead_rows_per_s': traced['throughput_rows_per_s']
        - untraced['throughput_rows_per_s'],
        'trace.overhead_frac': traced['throughput_rows_per_s']
        / untraced['throughput_rows_per_s'] - 1.0,
        'join.candidates_per_image': 0.0, 'join.unmatched_rows': 0,
        'join.hot_cell_rows': 0, 'lineage.resume_noop_s': 0.0,
        **probes,
    })
    return out


def _import_engine():
    """Put the repository on the path and import the engine; None (with
    the reason on stderr) when it is not there."""
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401
        import pytrs_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f'perfbench: cannot import the engine ({e}); run from the '
              'root of a checkout of the repository', file=sys.stderr)
        return False
    return True


def declared_metrics(kind: str) -> list:
    """The ``kind`` (``end_to_end`` or ``per_layer``) metric list of
    ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)[kind]


def render(values: dict, declared) -> dict:
    """``{name: {"value": v, "unit": u}}`` for every metric of
    ``declared``; raises KeyError if one is missing."""
    return {m['name']: {'value': values[m['name']], 'unit': m['unit']}
            for m in declared}


def run(args) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    imports_s = process_age_s()
    t0 = time.perf_counter()
    manifest = ensure_input(wl, args.seed)
    gen_s = time.perf_counter() - t0

    run_dir = os.path.join(
        STATE, 'out', f'{wl.name}-s{args.seed}-trace{args.trace}')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp)
    os.environ['TMPDIR'] = tmp      # Python-side temp files of pyspark
    import tempfile
    tempfile.tempdir = tmp

    from rss import RssSampler
    sampler = RssSampler(os.getpid()).start()
    spark = start_session(wl.name, run_dir, event_log=bool(args.trace))
    timings = {'session_start_s': process_age_s() - gen_s,
               'input_gen_s': gen_s, 'imports_s': imports_s}
    off = Tracer(spark, enabled=False)
    st = wl.prepare(spark, manifest, off, timings)
    # process start to the end of set-up, input generation excluded
    setup_s = timings['setup_s'] = process_age_s() - gen_s
    st.update(work=os.path.join(run_dir, 'work'), seq=0)

    loop = Loop(wl, spark, st, manifest)
    timings['warmup_s'] = sum(loop.batch(p, off, timed=False)['latency_s']
                              for p in wl.warmup_parts)
    untraced = loop.timed(off, args.seconds)
    peak_rss_mb = sampler.stop() / (1 << 20)

    traced = tracer = None
    probes, traced_setup, resumed = {}, {}, 0
    if args.trace:
        tracer = Tracer(spark, enabled=True)
        traced = loop.timed(tracer, args.seconds)
        last = [r for r in loop.results if 'error' not in r][-1]
        probes = wl.probe(spark, st, last)
        # a re-run of a finished commit must commit nothing
        resumed = probes.pop('lineage.resume_buckets', 0)
        with tracer.layer('setup', 'setup'):   # one more set-up, traced
            st_traced = wl.prepare(spark, manifest, tracer, traced_setup)
        if 'polys' in st_traced:
            st_traced['polys'].unpersist()
    t1 = time.perf_counter()
    failed = loop.verify()
    timings['verify_s'] = time.perf_counter() - t1
    t1 = time.perf_counter()
    stop_session(spark)
    timings['stop_s'] = time.perf_counter() - t1

    timed = [r for r in loop.results if r['timed']]
    bad = [r for r in loop.results if r['failures']]
    for r in bad[:5]:
        print(f"batch {r['seq']} (part {r['part']}) failed: "
              + '; '.join(r['failures']), file=sys.stderr)
    if resumed:
        print(f'resumed commit re-committed {resumed} buckets',
              file=sys.stderr)
    summary = {'workload': wl.name, 'seed': args.seed,
               'timings': timings, 'untraced': untraced,
               'traced': traced,
               'batches': [{k: r[k] for k in ('seq', 'part', 'timed',
                                              'traced', 'latency_s',
                                              'failures')}
                           for r in loop.results]}
    if args.trace:
        probes.update(kernel_probes(args.seed))
        values = layer_metrics(loop, tracer,
                               os.path.join(run_dir, 'eventlog'), probes,
                               timings, traced_setup.get('rows', {}),
                               untraced, traced)
        key = 'per_layer'
        tracer.dump(os.path.join(run_dir, 'spans.json'))
    else:
        values = end_to_end_values(setup_s, peak_rss_mb, untraced)
        key = 'end_to_end'
    rendered = render(values, declared_metrics(key))
    summary['metrics'] = rendered
    with open(os.path.join(run_dir, 'result.json'), 'w') as f:
        json.dump(summary, f, indent=1, default=str)
    for scratch in (st['work'], tmp, os.path.join(run_dir, 'spark')):
        shutil.rmtree(scratch, ignore_errors=True)

    print(f"workload={wl.name} seed={args.seed} "
          f"batches={untraced['batches']} rows/batch="
          f"{wl.rows_per_batch(manifest)} tail=p{untraced['tail_pct']:.0f}"
          f" warmup={timings['warmup_s']:.3f}s "
          f"input_gen={gen_s:.2f}s (not in setup_s)")
    for name, m in rendered.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    attempted = len(timed)
    return {'correct': not bad and not resumed, 'attempted': attempted,
            'failed': failed,
            'metrics': rendered}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.splitlines()[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument('--workload', required=True,
                    choices=('assign', 'parse', 'tiles'))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True,
                    help='length of the timed phase')
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _import_engine():
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == '__main__':
    sys.exit(main())
