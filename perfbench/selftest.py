"""Self-tests of the benchmark itself (no Spark needed):

    python3 perfbench/selftest.py

- the same seed builds byte-identical inputs and expectations;
- the checker accepts a faithful observation and rejects planted
  defects: a dropped url, a one-byte text change, two swapped fetch
  positions, a duplicated parse_text row;
- every metric name the benchmark prints is declared in BENCHMARK.json
  with the same unit;
- every recorded crawl-order digest equals the generator's prediction.
"""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import webgen  # noqa: E402
from checks import DIGESTS_PATH, Observed, check_round  # noqa: E402

SEED = 7
_WEBS: dict[str, webgen.Web] = {}


def web(workload: str) -> webgen.Web:
    if workload not in _WEBS:
        _WEBS[workload] = webgen.build(workload, SEED)
    return _WEBS[workload]


def faithful(w: webgen.Web) -> Observed:
    e = w.expect
    return Observed(list(e.schedule), sorted(e.parsed.items()),
                    sorted(e.final_urls))


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl):
                again = webgen.build(wl, SEED)
                self.assertEqual(web(wl).fingerprint(), again.fingerprint())

    def test_other_seed_other_inputs(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl):
                self.assertNotEqual(web(wl).fingerprint(),
                                    webgen.build(wl, SEED + 1).fingerprint())


class Checker(unittest.TestCase):
    def check(self, wl: str, obs: Observed) -> list[str]:
        w = web(wl)
        return check_round(w.expect, obs, w.expect.digest)

    def test_faithful_observation_passes(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl):
                self.assertEqual(self.check(wl, faithful(web(wl))), [])

    def test_dropped_url_is_caught(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl, table="crawldb"):
                obs = faithful(web(wl))
                obs.db_urls.pop(len(obs.db_urls) // 2)
                self.assertTrue(self.check(wl, obs))
            with self.subTest(workload=wl, table="crawl_fetch"):
                obs = faithful(web(wl))
                obs.fetch_rows.pop(0)
                self.assertTrue(self.check(wl, obs))

    def test_one_byte_text_change_is_caught(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl):
                obs = faithful(web(wl))
                url, text = obs.parse_text[0]
                i = len(text) // 2
                changed = text[:i] + chr(ord(text[i]) ^ 1) + text[i + 1:]
                obs.parse_text[0] = (url, changed)
                self.assertEqual(len(changed.encode()), len(text.encode()))
                self.assertTrue(self.check(wl, obs))

    def test_duplicate_parse_text_row_is_caught(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl, row="same text"):
                obs = faithful(web(wl))
                obs.parse_text.append(obs.parse_text[0])
                self.assertTrue(self.check(wl, obs))
            with self.subTest(workload=wl, row="wrong text first"):
                obs = faithful(web(wl))
                url, _text = obs.parse_text[0]
                obs.parse_text.insert(0, (url, "wrong"))
                self.assertTrue(self.check(wl, obs))

    def test_swapped_fetch_positions_are_caught(self):
        for wl in webgen.WORKLOADS:
            with self.subTest(workload=wl):
                obs = faithful(web(wl))
                rows = obs.fetch_rows
                # two urls of the busiest queue trade virtual times
                queue = max({q for q, _t, _u in rows},
                            key=lambda q: sum(r[0] == q for r in rows))
                i, j = [k for k, r in enumerate(rows) if r[0] == queue][:2]
                (qi, ti, ui), (qj, tj, uj) = rows[i], rows[j]
                self.assertNotEqual(ti, tj)
                rows[i], rows[j] = (qi, tj, ui), (qj, ti, uj)
                self.assertTrue(self.check(wl, obs))


class Declarations(unittest.TestCase):
    def test_printed_metrics_are_declared(self):
        from run import END_TO_END
        from tracing import PER_LAYER_METRICS

        with open(os.path.join(os.path.dirname(HERE),
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         PER_LAYER_METRICS)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(webgen.WORKLOADS))

    def test_recorded_digests_match_prediction(self):
        with open(DIGESTS_PATH) as f:
            recorded = json.load(f)
        for wl, by_seed in recorded.items():
            for seed, digest in by_seed.items():
                with self.subTest(workload=wl, seed=seed):
                    self.assertEqual(
                        webgen.build(wl, int(seed)).expect.digest, digest)


if __name__ == "__main__":
    unittest.main()
