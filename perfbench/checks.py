"""Output checks for one timed crawl round.

The checker compares what the program committed against the
generator's expectation (``webgen.Expectation``) and the recorded
crawl-order digest. It works on plain Python values so the self-tests
can feed it planted defects without a Spark session.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from webgen import Expectation, order_digest

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "digests.json")


@dataclass
class Observed:
    """What one round committed."""
    fetch_rows: list[tuple[str, int, str]]    # crawl_fetch (queue_id, virtual_time, url)
    parse_text: list[tuple[str, str]]         # parse_text (url, text)
    db_urls: list[str]                        # final crawldb urls


def recorded_digest(workload: str, seed: int) -> str | None:
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def expected_digest(workload: str, seed: int, expect: Expectation) -> str:
    """The digest recorded for (workload, seed); the generator's
    prediction for seeds with no record."""
    return recorded_digest(workload, seed) or expect.digest


def check_round(expect: Expectation, obs: Observed,
                digest: str) -> list[str]:
    """Every violated property, as one line each (empty = correct)."""
    errors = []
    fetched = [u for _q, _t, u in obs.fetch_rows]
    if len(fetched) != len(expect.fetched):
        errors.append(f"fetched count {len(fetched)} != expected "
                      f"{len(expect.fetched)}")
    missing = set(expect.fetched) - set(fetched)
    extra = set(fetched) - set(expect.fetched)
    if missing or extra:
        errors.append(f"fetched set differs: {len(missing)} missing "
                      f"(e.g. {sorted(missing)[:1]}), {len(extra)} extra "
                      f"(e.g. {sorted(extra)[:1]})")

    parsed = [u for u, _text in obs.parse_text]
    if len(parsed) != len(set(parsed)):
        errors.append("parse_text holds duplicate urls")
    if set(parsed) != set(expect.parsed):
        miss = set(expect.parsed) - set(parsed)
        extra = set(parsed) - set(expect.parsed)
        errors.append(f"parsed set differs: {len(miss)} missing, "
                      f"{len(extra)} extra")
    bad = [u for u, text in obs.parse_text
           if u in expect.parsed
           and (text or "").encode("utf-8")
           != expect.parsed[u].encode("utf-8")]
    if bad:
        errors.append(f"parse_text differs from golden text on "
                      f"{len(bad)} urls (e.g. {sorted(bad)[0]})")

    if len(obs.db_urls) != len(set(obs.db_urls)):
        errors.append("crawldb holds duplicate urls")
    db = set(obs.db_urls)
    if db != expect.final_urls:
        errors.append(f"crawldb url set differs: "
                      f"{len(expect.final_urls - db)} missing, "
                      f"{len(db - expect.final_urls)} extra")

    got = order_digest(obs.fetch_rows)
    if got != digest:
        errors.append(f"crawl-order digest {got[:12]} != expected "
                      f"{digest[:12]}")
    return errors
