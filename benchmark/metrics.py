"""Reduces the JVM's raw record of one run to the benchmark's metrics.

Kept apart from `run.py` so the statistics can be tested without Spark.
"""
import math

# Percentiles a tail metric may report, highest first.
LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError('percentile of an empty sample')
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values):
    """The highest percentile of LADDER with at least ten samples beyond it.

    Returns (percentile, value, sample count); a sample too small for even
    the median to have ten beyond it reports its median.
    """
    n = len(values)
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def median(values):
    return percentile(values, 50.0) if values else 0.0


def self_times(spans):
    """Per span name: count, total and self milliseconds.

    `spans` are `[id, parent, trace, name, start, end]` rows. A span's self
    time is its duration minus the part of it that its children cover; the
    children are clipped to the parent and overlapping children count once.
    """
    children = {}
    for sid, parent, _, _, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, _, name, start, end in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(children.get(sid, [])):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        row = out.setdefault(name, {'count': 0, 'total_ms': 0.0, 'self_ms': 0.0})
        row['count'] += 1
        row['total_ms'] += end - start
        row['self_ms'] += (end - start) - covered
    return out


def backlog_growth(samples, rate, batch_s=1.0):
    """Backlog growth over the second half of a fixed-rate phase.

    `samples` are (seconds since phase start, backlog in events). The growth
    is the least-squares slope over the second half times its length, which
    averages out most of the saw-tooth each micro-batch draws. A phase is
    unsustained when its backlog grows by more than one batch interval
    (`batch_s`, at least one second) of input over that half: a smaller
    growth is within what the saw-tooth alone can leave in the slope.
    Returns (growth in events, unsustained).
    """
    if len(samples) < 4:
        return 0.0, False
    end = samples[-1][0]
    half = [(t, b) for t, b in samples if t >= end / 2]
    if len(half) < 2:
        return 0.0, False
    mt = sum(t for t, _ in half) / len(half)
    mb = sum(b for _, b in half) / len(half)
    var = sum((t - mt) ** 2 for t, _ in half)
    slope = sum((t - mt) * (b - mb) for t, b in half) / var if var else 0.0
    growth = slope * (end - half[0][0])
    return growth, growth > rate * max(1.0, batch_s)


def batch_seconds(raw, phase):
    """Median trigger time, in seconds, of the batches started in a phase."""
    return median([b['trigger_ms'] for b in raw['batches']
                   if phase['start_ms'] <= b['start_ms'] < phase['end_ms']]) / 1000.0


def alert_samples(raw):
    """Every alert's latency in ms: per event on fraud_live, per drain
    (weighted by its alert count) on fraud_catchup."""
    if 'alerts_ms' in raw:
        return [x for phase in ('low', 'high') for x in raw['alerts_ms'][phase]]
    out = []
    for latency, count in raw['alerts_weighted_ms']:
        out += [latency] * int(count)
    return out


def end_to_end(raw, launch_ms, rss_mb):
    """The user-visible metrics of one run, plus notes for the log."""
    p50 = median(alert_samples(raw))
    p, tail_v, n = tail(alert_samples(raw))
    notes = [f'alert latency: {n} samples, tail percentile p{p:g}',
             f'timed batches: rows {[b["rows"] for b in raw["batches"]]}, '
             f'trigger ms {[b["trigger_ms"] for b in raw["batches"]]}']
    for ph in raw.get('phases', []):
        growth, grows = backlog_growth(ph['backlog'], ph['rate'], batch_seconds(raw, ph))
        lat = raw['alerts_ms'][ph['name']]
        notes.append(f'phase {ph["name"]} at {ph["rate"]:g} ev/s: '
                     f'{"UNSUSTAINED, backlog grows" if grows else "sustained"} '
                     f'(second-half growth {growth:.0f} events); alerts {len(lat)}, '
                     f'p50 {median(lat):.1f} ms, p{tail(lat)[0] if lat else 0:g} '
                     f'{tail(lat)[1] if lat else 0:.1f} ms')
    if 'marks_ms' in raw:
        prev, parts = launch_ms, []
        for name, at in [('session', raw['session_ms'])] + raw['marks_ms']:
            parts.append(f'{name} {(at - prev) / 1000.0:.1f} s')
            prev = at
        notes.append('wall: ' + ', '.join(parts))
    if 'warmup' in raw:
        w = raw['warmup']
        notes.append(f'warm-up {w["seconds"]:.1f} s, '
                     f'{"settled" if w["settled"] else "NOT settled at its time limit"}; '
                     f'batch trigger ms {w["trigger_ms"]}')
    return {
        'setup_s': ((raw['setup_end_ms'] - launch_ms) / 1000.0, 's'),
        'rss_peak_mb': (rss_mb, 'MB'),
        'alert_p50_ms': (p50, 'ms'),
        'alert_p99_ms': (tail_v, 'ms'),
    }, notes


# The end-to-end metric each per-layer metric should move, and where.
MOVES = {
    'microbatch': 'alert_p50_ms, alert_p99_ms on fraud_live',
    'microbatch.overhead_ms_p50': 'alert_p50_ms on fraud_live; ~0 share on fraud_catchup',
    'score.state': 'alert_p50_ms on fraud_live (8192 cards); not fraud_catchup (8 cards)',
    'score.kernel_eps': 'upper reference for fraud_catchup',
    'score.alerts': 'exact; equal the batch reference',
    'sink': 'alert_p50_ms on fraud_live',
    'exec': 'alert_p50_ms on fraud_catchup; little on fraud_live',
    'parse': 'exact; equals the injected count',
    'gen': 'must stay near 0 for a valid run',
    'source': 'growth inflates alert_p99_ms on fraud_live',
    'live': 'the split of alert_p50_ms / alert_p99_ms by rate',
    'catchup': 'alert_p50_ms on fraud_catchup (inverse)',
}


def moves(name):
    """The MOVES entry with the longest prefix of a per-layer metric name."""
    keys = [k for k in MOVES if name == k or name.startswith(k + '.') or name.startswith(k + '_')]
    return MOVES[max(keys, key=len)] if keys else ''


def per_layer(raw):
    """Per-layer metrics of one traced run, plus notes for the log."""
    notes = []
    batches = raw['batches']
    data = [b for b in batches if b['rows'] > 0] or batches
    trig = [b['trigger_ms'] for b in data]
    m = {
        'microbatch.batches': (len(batches), 'count'),
        'microbatch.rows_p50': (median([b['rows'] for b in data]), 'count'),
        'microbatch.trigger_ms_p50': (median(trig), 'ms'),
        'microbatch.trigger_ms_p99': (tail(trig)[1] if trig else 0.0, 'ms'),
        'microbatch.overhead_ms_p50':
            (median([b['trigger_ms'] - b['add_batch_ms'] for b in data]), 'ms'),
        'score.state_commit_ms_p50': (median([b['state_commit_ms'] for b in data]), 'ms'),
        'score.state_update_ms_p50': (median([b['state_update_ms'] for b in data]), 'ms'),
        'score.state_rows': (batches[-1]['state_rows'] if batches else 0, 'count'),
        'score.state_bytes': (batches[-1]['state_bytes'] if batches else 0, 'bytes'),
        'score.kernel_eps': (raw['kernel_eps'], '1/s'),
    }
    if trig:
        notes.append(f'microbatch trigger: {len(trig)} batches with input, '
                     f'tail percentile p{tail(trig)[0]:g}')
    for sink in ('main', 'alerts', 'audit', 'dlq'):
        m[f'sink.{sink}_ms_p50'] = (median(raw['sinks_ms'].get(sink, [])), 'ms')
    ex = raw['exec']
    m['exec.task_s'] = (ex['task_s'], 's')
    m['exec.max_task_ms'] = (ex['max_task_ms'], 'ms')
    m['exec.shuffle_write_bytes'] = (ex['shuffle_write_bytes'], 'bytes')
    m['exec.gc_ms'] = (ex['gc_ms'], 'ms')
    c = raw['counts']
    m['parse.dead_letters'] = (c['dead_letters'], 'count')
    m['score.alerts.high_amount'] = (c['high_amount'], 'count')
    m['score.alerts.rapid'] = (c['rapid'], 'count')
    m['score.alerts.travel'] = (c['travel'], 'count')
    phases = {p['name']: p for p in raw.get('phases', [])}
    m['gen.lag_ms_max'] = (max([p['lag_ms_max'] for p in phases.values()], default=0.0), 'ms')
    m['source.backlog_max'] = (
        max([b for p in phases.values() for _, b in p['backlog']], default=raw.get('backlog', 0)),
        'count')
    for name in ('low', 'high'):
        lat = raw.get('alerts_ms', {}).get(name, [])
        m[f'live.alert_p50_ms.{name}'] = (median(lat), 'ms')
        m[f'live.alert_p99_ms.{name}'] = (tail(lat)[1] if lat else 0.0, 'ms')
        growth = 0.0
        if name in phases:
            growth = backlog_growth(phases[name]['backlog'], phases[name]['rate'],
                                    batch_seconds(raw, phases[name]))[0]
        m[f'source.backlog_growth.{name}'] = (growth, 'count')
    m['catchup.eps'] = (median(raw.get('catchup_eps', [])), '1/s')
    return m, notes
