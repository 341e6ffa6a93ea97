"""Tracing for the benchmark's traced run: spans and Spark job groups.

The benchmark wraps every call into a layer of the engine in
``Tracer.layer(name, batch)``.  With tracing on, that records a span
(name, start, end, parent, batch) in memory and tags every Spark job the
call runs with the job group ``<layer>:<batch>``; Spark's event log,
written for the traced session only, then gives the task metrics of each
group.  With tracing off it does nothing.

``layer_task_metrics`` reads an event log and sums the task metrics of
every job group by layer.
"""

import contextlib
import json
import os
import statistics
import time

# Layers whose spans and task metrics the traced run reports.
LAYERS = ('parse', 'grid', 'join', 'rollup', 'knn', 'raster', 'lineage')
TASK_FIELDS = ('task_cpu_s', 'task_run_s', 'gc_s', 'sched_delay_s',
               'shuffle_write_mb', 'spill_mb', 'task_skew',
               'tasks_failed')
_MB = 1 << 20


class Tracer:
    """Spans and job groups around the benchmark's calls into the engine.

    Spans are kept in memory and written out by :meth:`dump`.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def layer(self, name: str, batch=None):
        """Span ``name`` of ``batch`` (default: the enclosing span's);
        Spark jobs inside it carry the job group ``<name>:<batch>``."""
        if not self.enabled:
            yield
            return
        if batch is None:
            batch = self._stack[-1]['batch']
        span = {'id': len(self.spans), 'name': name, 'batch': batch,
                'parent': self._stack[-1]['id'] if self._stack else None,
                'start': time.perf_counter(), 'end': None}
        self.spans.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(f'{name}:{batch}', name)
        try:
            yield
        finally:
            span['end'] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self._sc.setJobGroup(f"{outer['name']}:{outer['batch']}",
                                     outer['name'])
            else:
                self._sc.setLocalProperty('spark.jobGroup.id', None)

    def self_times(self, batches=None) -> dict:
        """Summed self time (duration minus children) per span name,
        over the spans of ``batches`` (default: all)."""
        return span_self_times(self.spans, batches)

    def dump(self, path: str) -> None:
        with open(path, 'w') as f:
            json.dump(self.spans, f)


def span_self_times(spans, batches=None) -> dict:
    """Summed self time per span name: each span's duration minus the
    durations of its direct children (children run inside the parent
    and one at a time)."""
    child = {}
    for s in spans:
        if s['parent'] is not None:
            child[s['parent']] = child.get(s['parent'], 0.0) \
                + s['end'] - s['start']
    out = {}
    for s in spans:
        if batches is not None and s['batch'] not in batches:
            continue
        d = s['end'] - s['start'] - child.get(s['id'], 0.0)
        out[s['name']] = out.get(s['name'], 0.0) + d
    return out


def _read_events(log_dir: str):
    """Events of every log file under ``log_dir`` (plain or rolling
    ``eventlog_v2_*`` directories), in file order."""
    for root, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            if name.startswith('.'):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def _worst_stage_skew(tasks) -> float:
    """Largest max / median task run time over the stages of
    ``tasks``: the worst straggler of one stage relative to its peers
    (stages of different shapes are never pooled)."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t['stage'], []).append(t['run'])
    worst = 0.0
    for runs in by_stage.values():
        med = statistics.median(runs)
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst


def layer_task_metrics(log_dir: str) -> dict:
    """Per-layer task metrics from the Spark event log in ``log_dir``.

    Jobs map to layers through their job group ``<layer>:<batch>``;
    stages map to jobs through ``Stage IDs``.  Returns
    ``{layer: {field: value}}`` for every layer seen, plus the key
    ``'_input'`` with the ``mb`` and ``rows`` read by scans of every
    tagged job.  The scheduler delay of a task is Spark's own: time from
    launch to finish not spent running, (de)serializing or fetching the
    result.
    """
    stage_layer = {}
    tasks = {}
    inp = {'mb': 0.0, 'rows': 0}
    for ev in _read_events(log_dir):
        kind = ev.get('Event')
        if kind == 'SparkListenerJobStart':
            group = (ev.get('Properties') or {}).get('spark.jobGroup.id')
            if group and ':' in group:
                for sid in ev.get('Stage IDs', ()):
                    stage_layer[sid] = group.split(':', 1)[0]
        elif kind == 'SparkListenerTaskEnd':
            layer = stage_layer.get(ev.get('Stage ID'))
            if layer is None:
                continue
            info = ev.get('Task Info') or {}
            m = ev.get('Task Metrics') or {}
            failed = (ev.get('Task End Reason') or {}).get('Reason') \
                != 'Success' or info.get('Failed', False)
            run_ms = m.get('Executor Run Time', 0)
            total_ms = info.get('Finish Time', 0) - info.get('Launch Time', 0)
            delay_ms = max(0, total_ms - run_ms
                           - m.get('Executor Deserialize Time', 0)
                           - m.get('Result Serialization Time', 0)
                           - info.get('Getting Result Time', 0))
            sw = m.get('Shuffle Write Metrics') or {}
            im = m.get('Input Metrics') or {}
            inp['mb'] += im.get('Bytes Read', 0) / _MB
            inp['rows'] += im.get('Records Read', 0)
            tasks.setdefault(layer, []).append({
                'stage': ev.get('Stage ID'),
                'cpu': m.get('Executor CPU Time', 0) / 1e9,
                'run': run_ms / 1e3,
                'gc': m.get('JVM GC Time', 0) / 1e3,
                'delay': delay_ms / 1e3,
                'shuffle': sw.get('Shuffle Bytes Written', 0) / _MB,
                'spill': (m.get('Memory Bytes Spilled', 0)
                          + m.get('Disk Bytes Spilled', 0)) / _MB,
                'failed': bool(failed),
            })
    out = {}
    for layer, ts in tasks.items():
        runs = [t['run'] for t in ts]
        out[layer] = {
            'task_cpu_s': sum(t['cpu'] for t in ts),
            'task_run_s': sum(runs),
            'gc_s': sum(t['gc'] for t in ts),
            'sched_delay_s': sum(t['delay'] for t in ts),
            'shuffle_write_mb': sum(t['shuffle'] for t in ts),
            'spill_mb': sum(t['spill'] for t in ts),
            'task_skew': _worst_stage_skew(ts),
            'tasks_failed': sum(t['failed'] for t in ts),
        }
    out['_input'] = inp
    return out
