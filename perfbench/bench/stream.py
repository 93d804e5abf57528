"""The health stream's inputs, its batch reference, and its checks.

Events have the reference producer's JSON shape
(`{"patient_id", "timestamp" (ISO 8601 with offset), "heart_rate_bpm"}`)
and arrive in event-time order, one file per tick. Three fixed shares
are planted:

- malformed lines (truncated JSON, a missing field, a bad timestamp),
  which the parser must drop;
- out-of-order readings, up to 4 s behind the stream, inside the 5 s
  bound, which must still count;
- late readings, each in its own window an hour or more behind, which
  the watermark must drop: every one is one row the state operator
  drops, so the drop count must equal the planted count exactly.

The reference drops the malformed and late lines and keeps every
(patient, 1-minute window) whose end the final watermark passed.
"""
import json
import os
from dataclasses import dataclass
from datetime import datetime
from urllib.parse import unquote, urlparse

import numpy as np

T0_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
WINDOW_MS = 60_000
WATERMARK_MS = 5_000
LATE_BEHIND_MS = 3_600_000
OOO_MAX_MS = 4_000
# the planted shares, of the on-time readings
MALFORMED_SHARE = 0.01
OOO_SHARE = 0.05
LATE_SHARE = 0.002


@dataclass(frozen=True)
class Spec:
    patients: int
    period_ms: int          # event time between two readings of a patient
    speedup: int            # event-time ms per wall ms in the live phase
    tick_ms: int            # wall ms between two live files
    backlog_files: int
    live_files: int
    max_files: int          # files per micro-batch

    @property
    def file_event_ms(self):
        """Event time one file spans, in the backlog and the live phase."""
        return self.tick_ms * self.speedup


@dataclass
class Generated:
    spec: Spec
    files: list             # [(name, is_live, [line, ...])]
    patient: np.ndarray     # valid on-time readings
    event_ms: np.ndarray
    hr: np.ndarray
    file_idx: np.ndarray    # index into files
    seq: np.ndarray         # arrival order over the whole stream
    late: int
    malformed: int
    out_of_order: int


def _iso(ms):
    s = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    return np.char.add(s.astype(str), "+00:00")


def _json_lines(pids, iso, hr):
    return [f'{{"patient_id": "{p}", "timestamp": "{t}", "heart_rate_bpm": {h}}}'
            for p, t, h in zip(pids, iso, hr)]


def generate(spec, seed):
    """The whole stream for `seed`: the same seed gives the same files."""
    rng = np.random.default_rng(seed)
    n_files = spec.backlog_files + spec.live_files
    span = n_files * spec.file_event_ms
    slots = span // spec.period_ms
    phase = rng.integers(0, spec.period_ms, spec.patients)
    base = rng.integers(58, 92, spec.patients)
    # nominal (arrival) times: one reading per patient per period
    k = np.repeat(np.arange(slots, dtype=np.int64), spec.patients)
    p = np.tile(np.arange(spec.patients), slots)
    nominal = T0_MS + k * spec.period_ms + phase[p]
    keep = nominal < T0_MS + span
    k, p, nominal = k[keep], p[keep], nominal[keep]
    order = np.argsort(nominal, kind="stable")
    k, p, nominal = k[order], p[order], nominal[order]
    # per patient-minute episodes: tachycardia, bradycardia or neither
    minute = (nominal - T0_MS) // WINDOW_MS
    n_min = int(minute.max()) + 1
    episode = rng.choice([0, 42, -36], size=(spec.patients, n_min), p=[0.8, 0.12, 0.08])
    hr = base[p] + episode[p, minute] + rng.integers(-6, 7, len(p))
    hr = np.clip(hr, 30, 200)
    ooo = rng.random(len(p)) < OOO_SHARE
    event = nominal - np.where(ooo, rng.integers(500, OOO_MAX_MS + 1, len(p)), 0)
    file_of = (nominal - T0_MS) // spec.file_event_ms
    pid = np.char.add("P", np.char.zfill(p.astype(str), 5))
    valid_lines = _json_lines(pid, _iso(event), hr)

    per_file = [[] for _ in range(n_files)]
    seq_in_file = np.zeros(len(p), dtype=np.int64)
    for i, f in enumerate(file_of):
        seq_in_file[i] = len(per_file[f])
        per_file[f].append(valid_lines[i])

    # planted lines go after the first two micro-batches: a batch drops
    # late rows by the watermark the batch before it ended with, and
    # none exists before the first batch ends
    eligible = np.arange(2 * spec.max_files + 1, n_files)
    n_late = int(round(LATE_SHARE * len(p))) if len(eligible) else 0
    n_bad = int(round(MALFORMED_SHARE * len(p)))
    late_files = np.sort(rng.choice(eligible, n_late))
    late_ms = (T0_MS - LATE_BEHIND_MS - np.arange(n_late, dtype=np.int64) * WINDOW_MS
               - rng.integers(0, WINDOW_MS, n_late))
    late_lines = _json_lines(np.char.add("P", np.char.zfill(
        rng.integers(0, spec.patients, n_late).astype(str), 5)), _iso(late_ms),
        rng.integers(40, 140, n_late))
    bad_files = np.sort(rng.choice(np.arange(n_files), n_bad))
    bad_lines = []
    for j in range(n_bad):
        kind = j % 3
        if kind == 0:
            bad_lines.append('{"patient_id": "P00001", "timestamp": "2026-01-01T00:')
        elif kind == 1:
            bad_lines.append('{"patient_id": "P00002", "timestamp": "2026-01-01T00:00:01.000+00:00"}')
        else:
            bad_lines.append('{"patient_id": "P00003", "timestamp": "not a time", "heart_rate_bpm": 77}')
    # planted lines are appended to their file, after its readings, so
    # the readings keep their arrival order
    for f, line in zip(late_files, late_lines):
        per_file[f].append(line)
    for f, line in zip(bad_files, bad_lines):
        per_file[f].append(line)

    files = []
    for i, lines in enumerate(per_file):
        live = i >= spec.backlog_files
        name = f"{'l' if live else 'b'}{i:06d}.json"
        files.append((name, live, lines))
    # a global arrival order: file first, then position in the file
    offsets = np.cumsum([0] + [len(x) for x in per_file])[:-1]
    seq = offsets[file_of] + seq_in_file
    return Generated(spec, files, p, event, hr, file_of, seq,
                     late=n_late, malformed=n_bad, out_of_order=int(ooo.sum()))


def write(gen, out_dir):
    """backlog/ and live/ under out_dir, as the harness expects."""
    for sub in ("backlog", "live"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    for name, live, lines in gen.files:
        with open(os.path.join(out_dir, "live" if live else "backlog", name), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def classify(avg):
    if avg > 100.0:
        return "tachycardia"
    if avg < 50.0:
        return "bradycardia"
    return "normal"


def reference(gen):
    """Expected alerts keyed by (patient_id, window_start_ms), each with
    its value tuple and the index of the file that holds its last
    reading to arrive."""
    wm = int(gen.event_ms.max()) - WATERMARK_MS
    start = gen.event_ms - gen.event_ms % WINDOW_MS
    closed = start + WINDOW_MS <= wm
    out = {}
    for pi, s, h, q, f in zip(gen.patient[closed], start[closed], gen.hr[closed],
                              gen.seq[closed], gen.file_idx[closed]):
        key = (f"P{pi:05d}", int(s))
        acc = out.get(key)
        if acc is None:
            out[key] = [int(h), 1, int(h), int(h), int(q), int(f)]
        else:
            acc[0] += int(h)
            acc[1] += 1
            acc[2] = min(acc[2], int(h))
            acc[3] = max(acc[3], int(h))
            if q > acc[4]:
                acc[4], acc[5] = int(q), int(f)
    alerts = {}
    for key, (total, n, lo, hi, _, last_file) in out.items():
        avg = total / n
        value = (key[1] + WINDOW_MS, avg, lo, hi, classify(avg))
        alerts[key] = (value, last_file)
    return alerts, wm


def read_sink(sink_dir):
    """Alert rows by the micro-batch whose sink commit listed their file."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    rows = []
    for name in sorted(os.listdir(meta), key=lambda x: (len(x), x)):
        if not name.isdigit():
            continue
        batch = int(name)
        with open(os.path.join(meta, name)) as fh:
            entries = [json.loads(x) for x in fh.read().splitlines()[1:] if x.strip()]
        for e in entries:
            with open(unquote(urlparse(e["path"]).path)) as fh:
                for line in fh:
                    if line.strip():
                        rows.append((batch, json.loads(line)))
    return rows


def source_batches(checkpoint_dir, progress):
    """file name → the micro-batch that read it. The source log numbers
    its entries by the source's own offset, which skips the micro-batches
    that read nothing; each micro-batch's progress names the offsets it
    read, (startOffset, endOffset]."""
    log = os.path.join(checkpoint_dir, "sources", "0")
    by_offset = {}
    for p in progress:
        src = p["sources"][0]
        start = (src.get("startOffset") or {}).get("logOffset", -1)
        end = (src.get("endOffset") or {}).get("logOffset", -1)
        for off in range(start + 1, end + 1):
            by_offset[off] = p["batchId"]
    out = {}
    for name in os.listdir(log):
        if name.isdigit() and int(name) in by_offset:
            with open(os.path.join(log, name)) as fh:
                for x in fh.read().splitlines()[1:]:
                    if x.strip():
                        out[os.path.basename(json.loads(x)["path"])] = by_offset[int(name)]
    return out


def commit_ms(progress):
    """batchId → wall time its micro-batch committed (trigger start plus
    the trigger's duration, both from the query's progress events)."""
    out = {}
    for p in progress:
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = int((ts - datetime(1970, 1, 1)).total_seconds() * 1000)
        out[p["batchId"]] = (start, start + int(p["durationMs"].get("triggerExecution", 0)))
    return out


def check(gen, run):
    """Compares the sink with the reference and attributes each alert to
    the batch that wrote it. Returns a dict of counts and latencies."""
    expected, final_wm = reference(gen)
    rows = read_sink(run["sink"])
    got = {}
    dup = 0
    for batch, r in rows:
        key = (r["patient_id"], int(r["window_start"]))
        if key in got:
            dup += 1
        got[key] = (batch, (int(r["window_end"]), float(r["avg_hr"]), int(r["min_hr"]),
                            int(r["max_hr"]), r["alert_type"]))
    missing = [k for k in expected if k not in got]
    extra = [k for k in got if k not in expected]
    wrong = [k for k in expected if k in got and got[k][1] != expected[k][0]]
    progress = run["progress"]
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p.get("stateOperators", []))
    # latency: from when the file holding the alert's last reading was
    # due, to the commit of the batch that wrote the alert
    due = {x["file"]: x["due_ms"] for x in run["published"]}
    commits = commit_ms(progress)
    latencies = []
    for key, (_, last_file) in expected.items():
        fname = gen.files[last_file][0]
        if key in got and fname in due:
            latencies.append(commits[got[key][0]][1] - due[fname])
    failed = len(missing) + len(extra) + len(wrong) + dup
    return {
        "expected_alerts": len(expected), "got_alerts": len(rows),
        "missing": len(missing), "extra": len(extra), "wrong": len(wrong), "duplicate": dup,
        "dropped_by_watermark": int(dropped), "planted_late": gen.late,
        "malformed": gen.malformed, "out_of_order": gen.out_of_order,
        "final_watermark_ms": final_wm,
        "attempted": len(expected) + len(extra), "failed": failed,
        "drop_count_ok": int(dropped) == gen.late,
        "latencies_ms": latencies,
        "examples": {"missing": [list(k) for k in missing[:3]],
                     "extra": [list(k) for k in extra[:3]],
                     "wrong": [[list(k), list(expected[k][0]), list(got[k][1])] for k in wrong[:3]]},
    }
