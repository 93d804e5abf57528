"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from datetime import datetime, timezone

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import metrics, stats, stream  # noqa: E402
from bench.digest import frame_digest  # noqa: E402

SMALL = stream.Spec(patients=20, period_ms=1000, speedup=60, tick_ms=50,
                    backlog_files=12, live_files=8, max_files=3)


def parses(line):
    """The reference parser's rule: JSON with all three fields, an ISO
    timestamp with an offset, and a positive integer rate."""
    try:
        e = json.loads(line)
        datetime.fromisoformat(e["timestamp"])
        return isinstance(e["heart_rate_bpm"], int) and e["heart_rate_bpm"] > 0 \
            and isinstance(e["patient_id"], str)
    except (ValueError, KeyError, TypeError):
        return False


def event_ms(line):
    return int(datetime.fromisoformat(json.loads(line)["timestamp"]).timestamp() * 1000)


class PercentileRule(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertIsNone(stats.percentile([], 50))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_states_the_count(self):
        s = stats.summary(list(range(200)))
        self.assertEqual((s["n"], s["tail_p"]), (200, 95.0))


class Generation(unittest.TestCase):
    def setUp(self):
        self.gen = stream.generate(SMALL, 7)

    def test_same_seed_same_files(self):
        self.assertEqual(stream.generate(SMALL, 7).files, self.gen.files)
        self.assertNotEqual(stream.generate(SMALL, 8).files, self.gen.files)

    def test_planted_counts_are_the_fixed_shares(self):
        n = len(self.gen.patient)
        self.assertEqual(self.gen.late, round(stream.LATE_SHARE * n))
        self.assertEqual(self.gen.malformed, round(stream.MALFORMED_SHARE * n))
        self.assertAlmostEqual(self.gen.out_of_order / n, stream.OOO_SHARE, delta=0.02)

    def test_malformed_lines_are_exactly_the_planted_ones(self):
        lines = [x for _, _, f in self.gen.files for x in f]
        self.assertEqual(sum(not parses(x) for x in lines), self.gen.malformed)
        self.assertGreater(self.gen.malformed, 0)

    def test_late_lines_each_own_window_and_after_two_batches(self):
        late = []
        for i, (_, _, lines) in enumerate(self.gen.files):
            for x in lines:
                if parses(x) and event_ms(x) < stream.T0_MS - stream.LATE_BEHIND_MS + stream.WINDOW_MS:
                    late.append((i, event_ms(x) // stream.WINDOW_MS))
        self.assertEqual(len(late), self.gen.late)
        self.assertGreater(self.gen.late, 0)
        self.assertEqual(len({w for _, w in late}), len(late))
        self.assertTrue(all(i > 2 * SMALL.max_files for i, _ in late))

    def test_out_of_order_stays_inside_the_bound(self):
        # every on-time reading is at most 4 s older than any reading
        # before it in arrival order
        order = np.argsort(self.gen.seq)
        ts = self.gen.event_ms[order]
        behind = np.maximum.accumulate(ts) - ts
        self.assertLessEqual(int(behind.max()), stream.OOO_MAX_MS)
        self.assertGreater(int((behind > 0).sum()), 0)

    def test_reference_keeps_only_windows_the_final_watermark_closed(self):
        alerts, wm = stream.reference(self.gen)
        self.assertEqual(wm, int(self.gen.event_ms.max()) - stream.WATERMARK_MS)
        for (_, start), ((end, avg, lo, hi, kind), _) in alerts.items():
            self.assertEqual(end, start + stream.WINDOW_MS)
            self.assertLessEqual(end, wm)
            self.assertTrue(lo <= avg <= hi)
            self.assertEqual(kind, stream.classify(avg))


def write_sink(root, batches):
    """A file sink as Spark leaves it: part files plus one metadata log
    file per batch listing them."""
    meta = os.path.join(root, "_spark_metadata")
    os.makedirs(meta)
    for b, rows in batches.items():
        part = os.path.join(root, f"part-{b}.txt")
        with open(part, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        with open(os.path.join(meta, str(b)), "w") as fh:
            fh.write("v1\n" + json.dumps({"path": "file://" + part}) + "\n")


def progress(batch, start_ms, trigger_ms, rows=0, dropped=0, offsets=(None, None)):
    ts = datetime.fromtimestamp(start_ms / 1000, tz=timezone.utc)
    start, end = ({"logOffset": o} if o is not None else None for o in offsets)
    return {"batchId": batch, "numInputRows": rows,
            "sources": [{"startOffset": start, "endOffset": end}],
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{start_ms % 1000:03d}Z",
            "durationMs": {"triggerExecution": trigger_ms, "latestOffset": 5},
            "stateOperators": [{"numRowsDroppedByWatermark": dropped}]}


class Attribution(unittest.TestCase):
    def test_alert_goes_to_the_batch_that_wrote_it(self):
        gen = stream.generate(SMALL, 3)
        alerts, _ = stream.reference(gen)
        keys = sorted(alerts)
        first, rest = keys[:5], keys[5:]

        def row(k):
            end, avg, lo, hi, kind = alerts[k][0]
            return {"patient_id": k[0], "window_start": k[1], "window_end": end,
                    "avg_hr": avg, "min_hr": lo, "max_hr": hi, "alert_type": kind}
        names = [f[0] for f in gen.files]
        due = {n: 1_000_000 + 50 * i for i, n in enumerate(names)}
        with tempfile.TemporaryDirectory() as d:
            write_sink(d, {4: [row(k) for k in first], 9: [row(k) for k in rest]})
            run = {"sink": d, "progress": [progress(4, 2_000_000, 120, dropped=gen.late),
                                           progress(9, 3_000_000, 80)],
                   "published": [{"file": n, "due_ms": t} for n, t in due.items()]}
            got = stream.check(gen, run)
        self.assertEqual((got["missing"], got["extra"], got["wrong"], got["failed"]), (0, 0, 0, 0))
        self.assertTrue(got["drop_count_ok"])
        want = []
        for k in keys:
            # the file of the window's last reading, found from scratch
            in_window = [i for i in range(len(gen.seq))
                         if f"P{gen.patient[i]:05d}" == k[0]
                         and gen.event_ms[i] - gen.event_ms[i] % stream.WINDOW_MS == k[1]]
            last = max(in_window, key=lambda i: gen.seq[i])
            commit = 2_000_120 if k in first else 3_000_080
            want.append(commit - due[names[gen.file_idx[last]]])
        self.assertEqual(sorted(got["latencies_ms"]), sorted(want))

    def test_wrong_missing_and_extra_alerts_fail(self):
        gen = stream.generate(SMALL, 3)
        alerts, _ = stream.reference(gen)
        keys = sorted(alerts)
        rows = []
        for k in keys[1:]:
            end, avg, lo, hi, kind = alerts[k][0]
            rows.append({"patient_id": k[0], "window_start": k[1], "window_end": end,
                         "avg_hr": avg + (1 if k == keys[1] else 0), "min_hr": lo,
                         "max_hr": hi, "alert_type": kind})
        rows.append(dict(rows[-1], patient_id="P99999"))
        with tempfile.TemporaryDirectory() as d:
            write_sink(d, {2: rows})
            got = stream.check(gen, {"sink": d, "progress": [progress(2, 5000, 10)],
                                     "published": []})
        self.assertEqual((got["missing"], got["extra"], got["wrong"]), (1, 1, 1))
        self.assertEqual(got["failed"], 3)
        self.assertFalse(got["drop_count_ok"])


class OpenLoop(unittest.TestCase):
    def test_lateness_and_lag_are_measured_from_the_schedule(self):
        with tempfile.TemporaryDirectory() as d:
            sink = os.path.join(d, "sink")
            os.makedirs(sink)
            log = os.path.join(d, "checkpoint", "sources", "0")
            os.makedirs(log)
            # source-log offsets 0 and 1; micro-batch 1 read nothing (a
            # batch the watermark alone asked for)
            with open(os.path.join(log, "0"), "w") as fh:
                fh.write("v1\n" + json.dumps({"path": "file:///x/l000001.json"}) + "\n")
            with open(os.path.join(log, "1"), "w") as fh:
                fh.write("v1\n" + json.dumps({"path": "file:///x/l000002.json"}) + "\n")
            run = {"checkpoint": os.path.join(d, "checkpoint"), "sink": sink,
                   "progress": [progress(0, 10_000, 100, rows=3, offsets=(None, 0)),
                                progress(1, 10_150, 100, offsets=(0, 0)),
                                progress(2, 10_400, 100, rows=4, offsets=(0, 1))],
                   # the second file was due at 10 100 but went out 250 ms late
                   "published": [{"file": "l000001.json", "due_ms": 9_950, "published_ms": 9_960},
                                 {"file": "l000002.json", "due_ms": 10_100,
                                  "published_ms": 10_350}]}
            got = metrics.stream_layers(run, {"l000001.json": 3, "l000002.json": 4})
        self.assertEqual(got["generator.late_ms_max"], 250)
        # lag: listing done (trigger start + latestOffset) minus publication
        self.assertEqual(got["source.lag_ms"], stats.median([10_005 - 9_960, 10_405 - 10_350]))
        # only the second file was still unread when the last one went out
        self.assertEqual(got["source.backlog_rows_end"], 4)


class Digest(unittest.TestCase):
    def test_row_order_does_not_matter_but_values_do(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None], "s": ["a", None, "c"]})
        b = a.iloc[::-1].reset_index(drop=True)[["s", "v", "k"]]
        self.assertEqual(frame_digest(a), frame_digest(b))
        c = a.copy()
        c.loc[0, "v"] = 0.1 + 1e-16
        self.assertNotEqual(frame_digest(a)[0], frame_digest(c)[0])


if __name__ == "__main__":
    unittest.main()
