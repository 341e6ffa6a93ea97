"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q

``PERFBENCH_E2E=1`` also runs each workload for real for a second and
checks the printed metric names.
"""

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import KNN_K, LINEAGE_BUCKETS, WORKLOADS  # noqa: E402


# --- generator determinism --------------------------------------------

def _table(manifest):
    t = pq.read_table(manifest['table']).to_pandas()
    return t.sort_values(list(t.columns[:2])).reset_index(drop=True)


@pytest.mark.parametrize('workload,size', [
    ('assign', {'parts': 2, 'rows': 40}),
    ('tiles', {'parts': 2, 'rows': 10}),
    ('parse', {'parts': 2, 'rows': 2}),
])
def test_same_seed_same_input(tmp_path, workload, size):
    a = gen.materialize(str(tmp_path / 'a'), workload, size, seed=5)
    b = gen.materialize(str(tmp_path / 'b'), workload, size, seed=5)
    c = gen.materialize(str(tmp_path / 'c'), workload, size, seed=6)
    ta, tb, tc = _table(a), _table(b), _table(c)
    assert ta.equals(tb)
    assert not ta.equals(tc)
    if workload == 'parse':
        assert len(ta) == size['parts'] * size['rows'] * 6
    else:                               # part 0 is the smaller warm-up part
        assert len(ta) == (size['parts'] - 1) * size['rows'] \
            + size['rows'] // gen.WARMUP_DIVISOR
    # cached: a second call reads the manifest instead of rebuilding
    assert gen.materialize(str(tmp_path / 'a'), workload, size, 5) == a


def test_image_ids_are_offset_by_seed():
    idx = np.arange(3 * gen.SEED_ID_STRIDE, 3 * gen.SEED_ID_STRIDE + 1000)
    rows = gen.image_rows(idx, with_bytes=False)
    assert rows['image_id'][0] == f'img{3 * gen.SEED_ID_STRIDE:012d}'
    dense = sum(' in 154n97w14:' in c for c in rows['caption'])
    assert 50 <= dense <= 150          # about one row in ten (plus chance)


def test_corpus_parses_to_full_sections():
    """Every township's documents cover exactly 36 sections x 16 QQs
    (checked with the single-process kernels, not with Spark)."""
    from pytrs_spark.plss import document, tract
    twps = gen.pick_townships(11, 20)
    got = {}
    for r in document.parse_documents_kernel(gen.township_docs(11, twps)):
        for t in r['tracts']:
            got.setdefault(t['trs'], set()).update(
                tract.parse_tract(t['desc'])['qqs'])
    want = {f'{a}{b}{c}{d}{s:02d}' for a, b, c, d in twps
            for s in range(1, 37)}
    assert set(got) == want
    assert all(v == set(gen.QQS) for v in got.values())


def test_section_partitions_vary():
    rng = random.Random(0)
    texts = {', '.join(gen.section_tokens(rng)) for _ in range(2000)}
    assert len(texts) > 1500


# --- verification flags corrupted batches ------------------------------

class _FakeWorkload:
    """Batches of 10 rows whose checksum is the part number."""

    def __init__(self, corrupt_part):
        self.corrupt_part = corrupt_part

    def rows_per_batch(self, manifest):
        return 10

    def run_batch(self, spark, st, part, tr):
        ck = part + (1 if part == self.corrupt_part else 0)
        return {'n': 10, 'ck': ck, 'rows': {}}

    def read_back(self, spark, results):
        pass

    def oracle(self, spark, st, manifest, parts):
        return {p: {'n': 10, 'ck': p} for p in parts}

    def check(self, res, exp, manifest):
        return [] if (res['n'], res['ck']) == (exp['n'], exp['ck']) \
            else ['checksum']


class _Off:
    enabled = False

    def layer(self, name, batch=None):
        import contextlib
        return contextlib.nullcontext()


def test_corrupted_batch_counts_as_failed():
    loop = run.Loop(_FakeWorkload(corrupt_part=2), None, {}, {'parts': 4})
    loop.batch(0, _Off(), timed=False)
    for _ in range(5):
        loop.batch(1 + loop.seq % 3, _Off(), timed=True)
    assert loop.verify() == 2           # part 2 ran twice
    assert [r['part'] for r in loop.results if r['failures']] == [2, 2]


def test_batch_that_raises_counts_as_failed():
    class Boom(_FakeWorkload):
        def run_batch(self, spark, st, part, tr):
            raise RuntimeError('boom')
    loop = run.Loop(Boom(None), None, {}, {'parts': 2})
    loop.batch(1, _Off(), timed=True)
    assert loop.verify() == 1
    assert 'boom' in loop.results[0]['failures'][0]


def _assign_exp():
    return {'n': 100, 'ck': 7, 'n_leaf': 30, 'n_sec': 9, 'n_twp': 3}


def _assign_res():
    return {'n': 100, 'ck': 7, 'levels': {3: (100, 30), 2: (100, 9),
                                          1: (100, 3), 0: (100, 1)}}


def test_workload_checks_accept_good_and_reject_corrupted():
    a = WORKLOADS['assign']
    assert a.check(_assign_res(), _assign_exp(), {}) == []
    bad = _assign_res()
    bad['ck'] ^= 1
    assert a.check(bad, _assign_exp(), {})
    bad = _assign_res()
    bad['levels'][3] = (100, 29)
    assert a.check(bad, _assign_exp(), {})

    p = WORKLOADS['parse']
    assert p.check({'n': 576, 'ck': 3}, {'n': 576, 'ck': 3}, {}) == []
    assert p.check({'n': 575, 'ck': 3}, {'n': 576, 'ck': 3}, {})

    t = WORKLOADS['tiles']
    good = {'raster': (50, 40, 3), 'knn': KNN_K * 50,
            'lineage': (50, 50, LINEAGE_BUCKETS),
            'buckets': LINEAGE_BUCKETS, 'assign_ck': 9}
    exp = {'n': 50, 'ck': 9}
    assert t.check(good, exp, {}) == []
    for key, value in (('knn', KNN_K * 50 - 1), ('raster', (49, 40, 3)),
                       ('lineage', (50, 49, LINEAGE_BUCKETS)),
                       ('assign_ck', 8)):
        assert t.check({**good, key: value}, exp, {}), key


# --- event log and spans ------------------------------------------------

def test_event_log_parser_on_canned_log():
    m = spans.layer_task_metrics(os.path.join(HERE, 'data'))
    j, r = m['join'], m['raster']
    assert j['task_cpu_s'] == pytest.approx(0.2)
    assert j['task_run_s'] == pytest.approx(0.4)
    assert j['gc_s'] == pytest.approx(0.01)
    assert j['sched_delay_s'] == pytest.approx(0.03)
    assert j['task_skew'] == pytest.approx(1.5)
    assert j['tasks_failed'] == 0
    assert r['task_run_s'] == pytest.approx(0.65)
    assert r['sched_delay_s'] == pytest.approx(0.06)
    assert r['shuffle_write_mb'] == pytest.approx(2.0)
    assert r['spill_mb'] == pytest.approx(2.0)
    # per stage: stage 1 has one task, stage 2 runs 400 and 50 ms
    assert r['task_skew'] == pytest.approx(400 / 225)
    assert r['tasks_failed'] == 1
    assert set(m) == {'join', 'raster', '_input'}    # untagged job ignored
    assert m['_input'] == {'mb': pytest.approx(2.0), 'rows': 1000}


def test_span_self_time_subtracts_children():
    s = [{'id': 0, 'name': 'batch', 'parent': None, 'start': 0.0, 'end': 10.0},
         {'id': 1, 'name': 'raster', 'parent': 0, 'start': 1.0, 'end': 7.0},
         {'id': 2, 'name': 'join', 'parent': 1, 'start': 2.0, 'end': 4.0},
         {'id': 3, 'name': 'knn', 'parent': 0, 'start': 7.0, 'end': 8.0}]
    got = spans.span_self_times(s)
    assert got == pytest.approx({'batch': 3.0, 'raster': 4.0, 'join': 2.0,
                                 'knn': 1.0})


def test_tail_is_highest_percentile_with_ten_beyond():
    lat = list(range(1, 41))            # 40 samples
    value, pct = run.tail(lat)
    assert value == 30 and pct == 75.0
    assert run.tail(list(range(1, 22))) == (11, 100.0 * 11 / 21)
    # too few samples for a percentile at or above the median: the max
    assert run.tail(list(range(20, 0, -1))) == (20, 100.0)
    assert run.tail([3, 1, 2]) == (3, 100.0)


# --- metric names --------------------------------------------------------

def _declared():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def test_declared_workloads_exist():
    assert {w['name'] for w in _declared()['workloads']} <= set(WORKLOADS)


class _Tracer:
    spans = []

    def self_times(self, batches=None):
        return {'grid': 1.0, 'join': 2.0}


def test_every_declared_metric_is_produced():
    """The metric values of both modes cover every declared metric."""
    stats = {'throughput_rows_per_s': 10.0, 'batch_p50_s': 1.0,
             'batch_tail_s': 2.0}
    e2e = run.render(run.end_to_end_values(5.0, 100.0, stats),
                     _declared()['end_to_end'])
    assert list(e2e) == [m['name'] for m in _declared()['end_to_end']]

    loop = run.Loop(WORKLOADS['tiles'], None, {}, {'parts': 2, 'rows': 50})
    loop.results = [{
        'seq': 1, 'traced': True, 'knn': KNN_K * 50, 'raster': (50, 40, 3),
        'buckets': 8, 'written_bytes': 1000, 'lineage_bytes': 100,
        'rows': {'grid': 50, 'join': 50}}]
    probes = {'plss.docs_per_s': 1.0, 'plss.cache_hit_ratio': 0.5,
              'plss.tracts_per_doc': 6.0, 'imagecodec.decode_per_s': 9.0,
              'join.candidates_per_image': 1.0, 'join.unmatched_rows': 0,
              'join.hot_cell_rows': 4, 'lineage.resume_noop_s': 0.1}
    values = run.layer_metrics(loop, _Tracer(), os.path.join(HERE, 'data'),
                               probes, {'session_start_s': 3.0,
                                        'join_prep_s': 0.5},
                               {'parse': 2304}, stats,
                               {**stats, 'throughput_rows_per_s': 9.0})
    per_layer = run.render(values, _declared()['per_layer'])
    assert list(per_layer) == [m['name'] for m in _declared()['per_layer']]
    assert per_layer['written_bytes_per_row']['value'] == 1000 / 50
    assert per_layer['trace.overhead_rows_per_s']['value'] == -1.0
    assert per_layer['join.task_run_s']['value'] == pytest.approx(0.4)
    assert per_layer['parse.rows_out']['value'] == 2304


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout (only the benchmark files) the command exits
    non-zero without printing a result."""
    shutil.copytree(BENCH, tmp_path / 'perfbench',
                    ignore=shutil.ignore_patterns('__pycache__'))
    shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != 'PYTHONPATH'}
    p = subprocess.run(
        [sys.executable, 'perfbench/run.py', '--workload', 'assign',
         '--seed', '1', '--seconds', '1', '--trace', '0'],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ''


@pytest.mark.skipif(os.environ.get('PERFBENCH_E2E') != '1',
                    reason='starts Spark; set PERFBENCH_E2E=1')
@pytest.mark.parametrize('workload', sorted(WORKLOADS))
@pytest.mark.parametrize('trace', [0, 1])
def test_command_prints_every_declared_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, 'perfbench/run.py', '--workload', workload,
         '--seed', '1', '--seconds', '1', '--trace', str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {'correct', 'attempted', 'failed', 'metrics'}
    assert last['correct'] and last['failed'] == 0
    key = 'per_layer' if trace else 'end_to_end'
    for m in _declared()[key]:
        assert last['metrics'][m['name']]['unit'] == m['unit']
        assert f"{m['name']} " in p.stdout
