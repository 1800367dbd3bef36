"""Seeded web generator for the crawl-round benchmark.

Builds, from a workload name and a seed, everything one benchmark
episode needs — and nothing the program computes itself:

- ``pages``: the simulated web (url, warc_ts, html, text, lang), real
  HTML with a title, a script block the parser must skip, paragraphs
  and anchors;
- ``robots``: one robots.txt row per host (disallow rules and
  crawl-delays on a few hosts, one delay above the fetcher's maximum);
- ``db0``: the round-0 crawldb the episode starts from;
- the expectation for the timed round, derived from the generator's own
  data: which urls are fetched, which are parsed and their golden text
  (built from the page's title, paragraph and anchor words, never by
  calling the program's parser), the final crawldb url set, and the
  crawl-order digest the politeness schedule must produce.

Workloads:

- ``discover``: a Zipf-sized web (one hot host) explored breadth-first.
  Levels 0–1 are already fetched, level 2 is the unfetched frontier the
  timed round fetches with unlimited topN; each level-2 page carries 15
  outlinks, 13 of them to level-3 urls nobody has seen, so the round
  grows the frontier several-fold.
- ``recrawl``: a large known frontier on uniform hosts, every url due;
  the round selects topN with a per-host ``generate.max.count`` cap.
  Outlinks point only at known urls, so the url set must not change.

Pure Python, no Spark: the same seed yields byte-identical inputs and
expectations (``fingerprint`` hashes them for the self-tests).
"""

from __future__ import annotations

import bisect
import datetime
import hashlib
import random
from dataclasses import dataclass, field

# virtual clock of every episode: the round-0 snapshot describes the
# frontier as of EPOCH_MS; the timed round runs one day later
EPOCH_MS = 1_767_225_600_000          # 2026-01-01T00:00:00Z
DAY_MS = 86_400_000
ROUND_MS = EPOCH_MS + DAY_MS
_WARC_EPOCH = datetime.datetime(2025, 12, 1)

# fetcher defaults the expectation relies on (nutch-default.xml:
# fetcher.server.delay, fetcher.max.crawl.delay); the order check
# fails loudly if the program's defaults move
SERVER_DELAY_MS = 5000
MAX_CRAWL_DELAY_MS = 30000
FETCH_INTERVAL_S = 2_592_000          # db.fetch.interval.default

_WORDS = ("amber basin cedar delta ember fjord glade harbor island "
          "juniper karst lagoon meadow nectar orchard prairie quarry "
          "ridge savanna tundra upland valley willow yonder zephyr "
          "anchor beacon canyon dune estuary forest geyser hollow "
          "inlet jetty knoll ledge marsh notch oasis peak reef shoal "
          "spring thicket vista wharf atoll bluff cove crag dell "
          "fen grove heath isle lake moor pond rill strait vale").split()

WORKLOADS = ("discover", "recrawl")


def url_hash31(url: str) -> int:
    """Generator.HashComparator's url hash: ``h = 31·h + byte`` over
    the utf-8 bytes last-to-first from h=1, signed int32 wraparound.
    The fetcher serves each queue in (hash, url) order."""
    h = 1
    for b in reversed(url.encode("utf-8")):
        h = (31 * h + (b if b < 128 else b - 256)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= 1 << 31 else h


def order_digest(rows) -> str:
    """Crawl-order digest over ``(queue_id, virtual_time, url)`` rows
    (any iterable of 3-tuples; order-insensitive)."""
    h = hashlib.sha256()
    for q, vt, u in sorted((str(q), int(vt), str(u)) for q, vt, u in rows):
        h.update(f"{q}\t{vt}\t{u}\n".encode("utf-8"))
    return h.hexdigest()


@dataclass
class Host:
    name: str
    robots_txt: str | None = None
    delay_ms: int | None = None            # robots Crawl-delay
    disallow: str | None = None            # path prefix

    @property
    def authority(self) -> str:
        return f"http://{self.name}"

    def allowed(self, path: str) -> bool:
        return self.disallow is None or not path.startswith(self.disallow)

    def attempted(self, path: str) -> bool:
        """Robots admits the url and the crawl-delay is under the cap."""
        delay_ok = self.delay_ms is None or self.delay_ms <= MAX_CRAWL_DELAY_MS
        return self.allowed(path) and delay_ok

    def spacing_ms(self) -> int:
        return self.delay_ms if self.delay_ms is not None else SERVER_DELAY_MS


@dataclass
class Expectation:
    """What the timed round must produce."""
    fetched: list[str]                      # crawl_fetch urls
    parsed: dict[str, str]                  # url -> golden parse text
    final_urls: set[str]                    # crawldb url set after the round
    schedule: list[tuple[str, int, str]]    # (queue_id, virtual_time, url)
    digest: str = ""

    def __post_init__(self):
        self.digest = order_digest(self.schedule)


@dataclass
class Web:
    workload: str
    seed: int
    cfg: dict                               # CrawlConfig overrides
    hosts: list[Host]
    pages: list[dict]                       # PAGES schema rows
    db0: list[dict]                         # CRAWLDB schema rows
    expect: Expectation
    html_bytes: dict[str, int] = field(default_factory=dict)

    def robots_rows(self) -> list[dict]:
        return [{"authority": h.authority, "robots_txt": h.robots_txt,
                 "fetch_code": 200 if h.robots_txt is not None else 404}
                for h in self.hosts]

    def fingerprint(self) -> str:
        """sha256 over every generated input and expectation."""
        h = hashlib.sha256()
        h.update(repr((self.workload, self.seed,
                       sorted(self.cfg.items()))).encode())
        for r in self.robots_rows():
            h.update(repr(sorted(r.items())).encode())
        for p in self.pages:
            h.update(p["url"].encode() + b"\0" + p["html"] + b"\0"
                     + p["text"].encode() + p["warc_ts"].isoformat().encode())
        for r in self.db0:
            h.update(repr(sorted(r.items())).encode())
        e = self.expect
        h.update(repr((e.fetched, sorted(e.parsed.items()),
                       sorted(e.final_urls), e.digest)).encode())
        return h.hexdigest()


# --- page construction --------------------------------------------------
def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _page(rng: random.Random, url: str, host: str,
          links: list[str]) -> tuple[bytes, str]:
    """HTML for one page plus its golden extracted text. The text is
    the document-order join of the title, paragraph and anchor words —
    exactly the fragments a DOM text walk that skips <script> yields.
    Same-host links are written host-relative, the rest absolute."""
    doc_id = url.rsplit("/", 1)[-1].split(".")[0]
    title = f"{_words(rng, 3)} {doc_id}"
    paras = [_words(rng, rng.randint(8, 16)) for _ in range(3)]
    frags = [title]
    parts = ["<!DOCTYPE html><html><head><meta charset=\"utf-8\">",
             f"<title>{title}</title>",
             f"<script>var page = \"{doc_id}\"; // not text</script>",
             "</head><body>"]
    per_para = -(-len(links) // len(paras)) if links else 0
    for i, para in enumerate(paras):
        parts.append(f"<p>{para}</p>")
        frags.append(para)
        for to in links[i * per_para:(i + 1) * per_para]:
            anchor = _words(rng, 2)
            prefix = f"http://{host}"
            href = to[len(prefix):] if to.startswith(prefix + "/") else to
            parts.append(f"<a href=\"{href}\">{anchor}</a>")
            frags.append(anchor)
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8"), " ".join(frags)


def _zipf_picker(rng: random.Random, n: int, s: float = 1.0):
    cum, tot = [], 0.0
    for i in range(n):
        tot += 1.0 / (i + 1) ** s
        cum.append(tot)
    return lambda: min(bisect.bisect_left(cum, rng.random() * tot), n - 1)


def _tag(rng: random.Random) -> str:
    return f"{rng.getrandbits(24):06x}"


def _db_row(url: str, status: str, fetch_time: int, score: float,
            signature: str | None = None, modified: int = 0) -> dict:
    return {"url": url, "status": status, "fetch_time": fetch_time,
            "retries": 0, "fetch_interval": FETCH_INTERVAL_S,
            "score": score, "signature": signature,
            "modified_time": modified, "metadata": {}}


def _schedule(hosts_by_name: dict[str, Host],
              fetched: list[str]) -> list[tuple[str, int, str]]:
    """The politeness schedule the fetcher must produce: per
    ``http://host`` queue, attempted urls in (url_hash31, url) order,
    the k-th completing at ROUND_MS + k·spacing; urls robots refuses
    complete at ROUND_MS without taking a slot."""
    by_queue: dict[str, list[str]] = {}
    rows = []
    for u in fetched:
        host, path = _split(u)
        h = hosts_by_name[host]
        if h.attempted(path):
            by_queue.setdefault(host, []).append(u)
        else:
            rows.append((h.authority, ROUND_MS, u))
    for host, urls in by_queue.items():
        h = hosts_by_name[host]
        urls.sort(key=lambda u: (url_hash31(u), u))
        rows.extend((h.authority, ROUND_MS + k * h.spacing_ms(), u)
                    for k, u in enumerate(urls))
    return rows


def _split(url: str) -> tuple[str, str]:
    rest = url[len("http://"):]
    host, _, path = rest.partition("/")
    return host, "/" + path


# --- workloads -----------------------------------------------------------
def build_discover(seed: int, n_hosts: int = 30, n_l1: int = 100,
                   n_l2: int = 300, l3_per_l2: int = 10,
                   outlinks: int = 15, new_links: int = 13) -> Web:
    rng = random.Random(f"discover/{seed}")
    tag = _tag(rng)
    hosts = [Host(f"h{i:02d}-{tag}.bench.test") for i in range(n_hosts)]
    # robots: disallowed paths on two hosts, a polite crawl-delay on
    # one, and one delay above fetcher.max.crawl.delay (host skipped)
    for i in (3, 7):
        hosts[i].disallow = "/private/"
        hosts[i].robots_txt = "User-agent: *\nDisallow: /private/\n"
    hosts[5].delay_ms = 2000
    hosts[5].robots_txt = "User-agent: *\nCrawl-delay: 2\n"
    hosts[11].delay_ms = 45000
    hosts[11].robots_txt = "User-agent: *\nCrawl-delay: 45\n"
    pick_host = _zipf_picker(rng, n_hosts)
    counters = [0] * n_hosts

    def new_url(level: int) -> str:
        hi = pick_host()
        counters[hi] += 1
        sub = "/private" if (hosts[hi].disallow and level == 2
                             and rng.random() < 0.2) else ""
        return f"http://{hosts[hi].name}{sub}/l{level}/p{counters[hi]:05d}.html"

    l0 = [f"http://{h.name}/index.html" for h in hosts]
    l1 = [new_url(1) for _ in range(n_l1)]
    l2 = [new_url(2) for _ in range(n_l2)]
    l3 = [new_url(3) for _ in range(n_l2 * l3_per_l2)]
    known = l0 + l1 + l2

    links: dict[str, list[str]] = {}
    for i, u in enumerate(l0):
        links[u] = l1[i::len(l0)][:outlinks]
    for i, u in enumerate(l1):
        own = l2[i::len(l1)]
        links[u] = own + rng.sample(l0 + l1, max(0, outlinks - len(own)))
    for u in l2:
        links[u] = rng.sample(l3, new_links) \
            + rng.sample(known, outlinks - new_links)
    for u in l3:
        links[u] = rng.sample(l3, outlinks - 2) + rng.sample(known, 2)

    hosts_by_name = {h.name: h for h in hosts}
    pages, texts, sizes = [], {}, {}
    for u in l0 + l1 + l2 + l3:
        host, _ = _split(u)
        html, text = _page(rng, u, host, links[u])
        pages.append({"url": u, "html": html, "text": text, "lang": "en",
                      "warc_ts": _WARC_EPOCH + datetime.timedelta(
                          seconds=rng.randrange(86400 * 28))})
        texts[u] = text
        sizes[u] = len(html)

    fetched_before = EPOCH_MS - 20 * DAY_MS
    db0 = [_db_row(u, "db_fetched",
                   fetched_before + FETCH_INTERVAL_S * 1000, 1.0,
                   hashlib.md5(u.encode()).hexdigest(), fetched_before)
           for u in l0 + l1]
    db0 += [_db_row(u, "db_unfetched", EPOCH_MS, 1.0 / outlinks)
            for u in l2]

    parsed = {u: texts[u] for u in l2
              if hosts_by_name[_split(u)[0]].attempted(_split(u)[1])}
    final = set(known)
    for u in parsed:
        final.update(links[u])
    expect = Expectation(fetched=list(l2), parsed=parsed, final_urls=final,
                         schedule=_schedule(hosts_by_name, l2))
    return Web("discover", seed, {}, hosts, pages, db0, expect, sizes)


def build_recrawl(seed: int, n_hosts: int = 40, per_host: int = 250,
                  top_n: int = 200, max_count: int = 7,
                  outlinks: int = 3) -> Web:
    rng = random.Random(f"recrawl/{seed}")
    tag = _tag(rng)
    hosts = [Host(f"r{i:02d}-{tag}.bench.test") for i in range(n_hosts)]
    for i in (4, 17):
        hosts[i].delay_ms = 1000
        hosts[i].robots_txt = "User-agent: *\nCrawl-delay: 1\n"
    urls = [f"http://{h.name}/a/p{j:05d}.html"
            for h in hosts for j in range(per_host)]
    scores = {u: rng.random() for u in urls}

    pages, texts, sizes = [], {}, {}
    for u in urls:
        host, _ = _split(u)
        html, text = _page(rng, u, host, rng.sample(urls, outlinks))
        pages.append({"url": u, "html": html, "text": text, "lang": "en",
                      "warc_ts": _WARC_EPOCH + datetime.timedelta(
                          seconds=rng.randrange(86400 * 28))})
        texts[u] = text
        sizes[u] = len(html)

    # every url was fetched 31 days ago on a 30-day interval: all due
    fetched_before = ROUND_MS - 31 * DAY_MS
    db0 = [_db_row(u, "db_fetched",
                   fetched_before + FETCH_INTERVAL_S * 1000, scores[u],
                   hashlib.md5(u.encode()).hexdigest(), fetched_before)
           for u in urls]

    # Generator selection: per host the best max_count-1 by (score
    # desc, url asc) — the reference's pre-increment cap — then the
    # global topN by the same order
    by_host: dict[str, list[str]] = {}
    for u in urls:
        by_host.setdefault(_split(u)[0], []).append(u)
    order = lambda u: (-scores[u], u)  # noqa: E731
    cand = [u for hs in by_host.values()
            for u in sorted(hs, key=order)[:max_count - 1]]
    fetched = sorted(cand, key=order)[:top_n]
    hosts_by_name = {h.name: h for h in hosts}
    expect = Expectation(fetched=fetched,
                         parsed={u: texts[u] for u in fetched},
                         final_urls=set(urls),
                         schedule=_schedule(hosts_by_name, fetched))
    cfg = {"generate_top_n": top_n, "generate_max_count": max_count}
    return Web("recrawl", seed, cfg, hosts, pages, db0, expect, sizes)


def build(workload: str, seed: int) -> Web:
    if workload == "discover":
        return build_discover(seed)
    if workload == "recrawl":
        return build_recrawl(seed)
    raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
