"""Seeded Heritrix crawl.log generator with by-construction probe truth.

Two logs are written: an index-side log (what ``build_index`` consumes) and
a probe-side log (what ``probe_captures`` judges against the built index
under DIGEST_URL_PREFERRED). Every line is a pure function of the seed, and
the generator returns the verdict every gated probe line must receive, so
the benchmark can check the program's output without re-running it.

Page ``p`` lives at ``http://site{p % 97}.example.com/p/{p}?b=..&a=..`` and
carries the payload digest of its content; ``REUSE_RATE`` of the pages
reuse the content of an earlier page, so some digests sit under several
URLs. Index-side line kinds per page:

    capture      status 200, non-text MIME          -> indexed
    recapture    a second capture of the same page  -> same (url, digest) key
    revisit      200 + Revisit annotation + JSON extra-info naming the page
                 itself as original                 -> same key (projected)
    unresolved   revisit with no extra-info         -> dropped (F7)
    text         text/html MIME                     -> dropped (F3 blacklist)
    error        status 404                         -> dropped (F1)

plus noise lines: malformed (too few fields) and failed fetches (status -1).

Probe-side line kinds: ``raw`` (the page's own URL), ``variant`` (a URL
that canonicalizes to the page's: www host, session id, query order,
upper-case host), ``foreign`` (an unrelated mirror URL) -- each carrying
the page's digest; ``changed`` (the page's URL with a fresh digest); and
lines the probe gates drop: non-2xx, pre-flagged revisits, malformed.

Truth for a gated probe line with digest D and URL u, where S is the set of
URLs indexed under D (the rule ``lookup_digest_url_preferred`` +
``classify_verdicts`` implement):

    D not indexed           -> novel
    u in S                  -> duplicate / exact_url
    canon(u) in canon(S)    -> duplicate / canonical_url
    otherwise               -> duplicate / digest_only

Variants canonicalize to their page's URL and to no other page's, so the
second test reduces to "u is a variant of a page whose URL is in S".
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
from collections import Counter
from dataclasses import dataclass, field

REUSE_RATE = 0.10
INDEX_KINDS = (  # (kind, weight)
    ("capture", 70), ("recapture", 8), ("revisit", 8), ("unresolved", 3),
    ("text", 5), ("error", 6),
)
NOISE_RATE = 0.02  # share of extra malformed / failed-fetch lines per log
PROBE_KINDS = (
    ("raw", 40), ("variant", 20), ("foreign", 12), ("changed", 14),
    ("gated_status", 6), ("gated_revisit", 4), ("malformed", 4),
)
REVISIT_ANNOTATION = "duplicate:digest,Revisit:IdenticalPayloadDigest"
REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
MIMES = ("image/jpeg", "image/png", "application/pdf", "video/mp4")


def digest_of(content: int, seed: int) -> str:
    """sha1:BASE32 digest of a content id (32 base32 characters)."""
    h = hashlib.sha1(f"{seed}:{content}".encode()).digest()
    return "sha1:" + base64.b32encode(h).decode()


def page_url(p: int) -> str:
    return f"http://site{p % 97}.example.com/p/{p}?b={p % 7}&a={p % 5}"


def variant_url(p: int, how: int) -> str:
    """A URL that canonicalizes to ``page_url(p)`` and to no other page."""
    host, path = f"site{p % 97}.example.com", f"/p/{p}"
    q = (f"b={p % 7}", f"a={p % 5}")
    if how == 0:
        return f"http://www.{host}{path}?{q[0]}&{q[1]}"
    if how == 1:
        return f"http://{host}{path};jsessionid=S{p:X}?{q[0]}&{q[1]}"
    if how == 2:
        return f"http://{host}{path}?{q[1]}&{q[0]}"
    return f"http://{host.upper()}{path}?{q[0]}&{q[1]}&sid=Z{p}"


def foreign_url(j: int) -> str:
    return f"http://mirror{j % 13}.example.org/copy/{j}"


def _ts17(t: int) -> str:
    """17-digit fetch timestamp (yyyyMMddHHmmssSSS) for second ``t`` of
    2026-09 (t < 30 days) plus a +duration tail."""
    d, r = divmod(t, 86400)
    return f"202609{d + 1:02d}{r // 3600:02d}{r % 3600 // 60:02d}{r % 60:02d}000+{t % 97}"


def _iso(t: int) -> str:
    d, r = divmod(t, 86400)
    return f"2026-09-{d + 1:02d}T{r // 3600:02d}:{r % 3600 // 60:02d}:{r % 60:02d}Z"


def crawl_line(t: int, status: int, url: str, mime: str, digest: str,
               annotation: str = "-", extra: dict | None = None) -> str:
    """One 13-field crawl.log line (CrawlLogIterator field order)."""
    tail = json.dumps(extra, separators=(",", ":")) if extra else "-"
    return (f"{_iso(t)[:-1]}.000Z {status:5d} {1000 + t % 9000:10d} {url} LE "
            f"http://seed.example.com/ {mime} #{t % 50:03d} {_ts17(t)} "
            f"{digest} - {annotation} {tail}")


def malformed_line(t: int) -> str:
    return f"{_iso(t)} 200 {t}"  # fewer than 10 fields: dropped (F8)


def failed_line(t: int, url: str) -> str:
    return (f"{_iso(t)[:-1]}.000Z    -1          - {url} LE "
            f"http://seed.example.com/ no-type #000 - - - -")


@dataclass
class CrawlLogs:
    index_lines: list[str]
    probe_lines: list[str]
    # Counter of (url, digest, verdict, dup_class) over gated probe lines
    truth: Counter = field(default_factory=Counter)
    shared_digest_pages: int = 0   # indexed pages whose digest another
                                   # indexed page also carries


def _pick(rng: random.Random, kinds) -> str:
    return rng.choices([k for k, _ in kinds], weights=[w for _, w in kinds])[0]


def generate(n_pages: int, n_probe: int, seed: int) -> CrawlLogs:
    """Index log over ``n_pages`` pages and a probe log of ``n_probe``
    lines, with the verdict truth of every line the probe gates keep."""
    rng = random.Random(seed)
    content = list(range(n_pages))
    for p in range(1, n_pages):
        if rng.random() < REUSE_RATE:
            content[p] = content[rng.randrange(p)]
    kind = [_pick(rng, INDEX_KINDS) for _ in range(n_pages)]
    indexed: dict[str, set[int]] = {}
    lines: list[str] = []
    t = 0
    for p in range(n_pages):
        url, dig, k = page_url(p), digest_of(content[p], seed), kind[p]
        mime = MIMES[p % len(MIMES)]
        t += 1
        if k == "text":
            lines.append(crawl_line(t, 200, url, "text/html", dig))
        elif k == "error":
            lines.append(crawl_line(t, 404, url, mime, dig))
        elif k == "unresolved":
            lines.append(crawl_line(t, 200, url, mime, dig, REVISIT_ANNOTATION))
        elif k == "revisit":
            extra = {"RevisitProfile": REVISIT_PROFILE,
                     "RevisitRefersToURI": url,
                     "RevisitRefersToDate": _iso(max(t - 3600, 0))}
            lines.append(crawl_line(t, 200, url, mime, dig, REVISIT_ANNOTATION,
                                    extra))
        else:
            lines.append(crawl_line(t, 200, url, mime, dig))
            if k == "recapture":
                lines.append(crawl_line(t + 7200, 200, url, mime, dig))
        if k in ("capture", "recapture", "revisit"):
            indexed.setdefault(dig, set()).add(p)
        if rng.random() < NOISE_RATE:
            lines.append(malformed_line(t) if rng.random() < 0.5
                         else failed_line(t, url))
    shared = sum(len(ps) for ps in indexed.values() if len(ps) > 1)

    probe: list[str] = []
    truth: Counter = Counter()
    for j in range(n_probe):
        p = rng.randrange(n_pages)
        k = _pick(rng, PROBE_KINDS)
        t = 10 * 86400 + j
        dig = digest_of(content[p], seed)
        mime = MIMES[p % len(MIMES)]
        if k == "malformed":
            probe.append(malformed_line(t))
            continue
        if k == "gated_status":
            probe.append(crawl_line(t, 301 + j % 3 * 100, page_url(p), mime, dig))
            continue
        if k == "gated_revisit":
            probe.append(crawl_line(t, 200, page_url(p), mime, dig,
                                    REVISIT_ANNOTATION))
            continue
        if k == "changed":
            url, dig = page_url(p), digest_of(n_pages + j, seed)
        elif k == "variant":
            url = variant_url(p, j % 4)
        elif k == "foreign":
            url = foreign_url(j)
        else:
            url = page_url(p)
        probe.append(crawl_line(t, 200, url, mime, dig))
        pages = indexed.get(dig)
        if not pages:
            verdict = ("novel", None)
        elif k == "raw" and p in pages:
            verdict = ("duplicate", "exact_url")
        elif k == "variant" and p in pages:
            verdict = ("duplicate", "canonical_url")
        else:
            verdict = ("duplicate", "digest_only")
        truth[(url, dig) + verdict] += 1
    return CrawlLogs(lines, probe, truth, shared)
