"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same
arguments give byte-identical inputs, and the program under test only
ever sees the generated rows. The properties each workload relies on are
stated beside its generator (and in NOTES.md).
"""

from __future__ import annotations

import datetime as _dt
import itertools
import random
from typing import Dict, List, Tuple

EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

# ---------------------------------------------------------------------------
# crawl_extract: a window of the stock synthetic crawl
# ---------------------------------------------------------------------------

CRAWL_WINDOW_SPAN = 5_000_000  # start indices are drawn from [0, span)


def crawl_window(seed: int, n: int) -> Tuple[int, int]:
    """``[start, start + n)`` row-index window of ``corpus.row_for``.

    Any window of consecutive indices carries the same shape mix: the
    H1-H7 + P1 shapes cycle with period 8 and every 5th row sits on
    ``site00.example`` (20% on one host); mean html is ~1.1 KB. The
    start is aligned to 40 so every window begins at the same phase of
    both cycles."""
    rng = random.Random(f"crawl_extract/{seed}")
    return rng.randrange(0, CRAWL_WINDOW_SPAN // 40) * 40, n


def crawl_rows(seed: int, n: int) -> List[Dict]:
    from ocr_module_spark import corpus
    start, n = crawl_window(seed, n)
    return [corpus.row_for(i) for i in range(start, start + n)]


# ---------------------------------------------------------------------------
# shared prose model
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "on", "for",
             "that", "with", "as", "was", "by", "at", "from", "this", "be")
_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "st", "tr", "pl", "gr", "ch", "sh", "br")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
_CODAS = ("", "n", "r", "s", "t", "l", "nd", "st", "ng", "rk")


def _vocabulary(n: int) -> List[str]:
    """Deterministic pseudo-English content words (2-3 syllables)."""
    rng = random.Random("perfbench/vocabulary")
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_NUCLEI)
                    for _ in range(rng.randint(1, 3))) + rng.choice(_CODAS)
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocabulary(6000)
# Zipf-like content-word weights: a few hundred frequent words, long tail
_VOCAB_CUM = list(itertools.accumulate(1.0 / (r + 10)
                                       for r in range(len(VOCAB))))


def _sentence(rng: random.Random, lo: int = 8, hi: int = 22) -> str:
    """One sentence: ~40% stopwords, capitalised, terminal punctuation."""
    n = rng.randint(lo, hi)
    content = rng.choices(VOCAB, cum_weights=_VOCAB_CUM, k=n)
    words = [rng.choice(STOPWORDS) if rng.random() < 0.4 else c
             for c in content]
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words)), str(rng.randint(2, 2030)))
    s = " ".join(words)
    return s[0].upper() + s[1:] + rng.choice(".....?!")


def _paragraph(rng: random.Random, lo: int = 3, hi: int = 7) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(lo, hi)))


# ---------------------------------------------------------------------------
# warc_bigpage: 20-60 KB pages in gzip WARC containers
# ---------------------------------------------------------------------------

BIGPAGE_MIN_BYTES = 20_000
BIGPAGE_MAX_BYTES = 60_000
BIGPAGE_CHUNKED_SHARE = 0.25   # Transfer-Encoding: chunked records
BIGPAGE_GZIP_SHARE = 0.25      # Content-Encoding: gzip records (independent)
BIGPAGE_FALLBACK_SHARE = 0.10  # pages outside the fast-tokenizer subset
BIGPAGE_HOSTS = 40

# constructs the fast tokenizer does not replicate, so the whole page is
# routed to the stdlib parser (htmlparse_fast module docstring): a stray
# '<' before a letter in text, an unquoted query-string href, and a
# multi-'=' attribute value
_FALLBACK_CONSTRUCTS = (
    "<p>the update applies if x<y holds for the stale index</p>",
    "<p>see <a href=/search?q=1&page=2>the archive</a> for more</p>",
    "<p data-track=id=7>tracked teaser text</p>",
)


class _Pool:
    """Per-seed text pool: pages are assembled from it, so generating a
    40 KB page costs string joins, not one RNG draw per word."""

    def __init__(self, rng: random.Random):
        self.paras = [_paragraph(rng) for _ in range(400)]
        self.short = [_sentence(rng, 3, 7) for _ in range(300)]
        self.styles = ["".join(
            f".c{k}{{margin:{k}px;padding:{k % 7}px;color:#{k * 4099 % 4096:03x}}}"
            for k in range(j, j + 40)) for j in range(8)]
        self.scripts = ["window.dataLayer=window.dataLayer||[];"
                        "function gtag(){dataLayer.push(arguments);}"
                        + "".join(f"gtag('event','v{k}',{{'n':{k}}});"
                                  for k in range(j, j + 30))
                        for j in range(8)]


def _bigpage_html(rng: random.Random, pool: _Pool, idx: int, target: int,
                  fallback: bool) -> str:
    title = rng.choice(pool.short).rstrip(".?!")
    head = (
        f"<head><title>{title}</title><meta charset=\"utf-8\"/>"
        "<meta name=\"viewport\" content=\"width=device-width\"/>"
        "<link rel=\"stylesheet\" href=\"/static/site.css\"/>"
        f"<style>{rng.choice(pool.styles)}</style>"
        f"<script>{rng.choice(pool.scripts)}</script></head>")
    nav = "<nav><ul>" + "".join(
        f"<li><a href=\"/section/{k}\">{rng.choice(VOCAB)}</a></li>"
        for k in range(rng.randint(15, 40))) + "</ul></nav>"
    side = "<div class=\"nav sidebar\">" + "".join(
        f"<p><a href=\"/related/{idx}/{k}\">{rng.choice(pool.short)}</a></p>"
        for k in range(rng.randint(5, 15))) + "</div>"
    foot = ("<footer>" + "".join(
        f"<p><a href=\"/legal/{k}\">{rng.choice(VOCAB)}</a> "
        f"{rng.choice(VOCAB)}</p>" for k in range(rng.randint(4, 10)))
        + f"<p>copyright {2000 + idx % 25}</p></footer>")
    body: List[str] = [f"<h1>{title}</h1>"]
    size = len(head) + len(nav) + len(side) + len(foot)
    while size < target:
        r = rng.random()
        if r < 0.10:
            part = f"<h2>{rng.choice(pool.short).rstrip('.?!')}</h2>"
        elif r < 0.16:
            cols = rng.randint(3, 6)
            part = "<table>" + "".join(
                "<tr>" + "".join(
                    f"<td>{rng.choice(VOCAB)} {rng.randint(0, 999)}</td>"
                    for _ in range(cols)) + "</tr>"
                for _ in range(rng.randint(3, 12))) + "</table>"
        elif r < 0.20:
            part = ("<script type=\"text/javascript\">"
                    f"{rng.choice(pool.scripts)}"
                    "if(cfg.k1<2){cfg.k2='</p>'}</script>")
        else:
            part = f"<p>{rng.choice(pool.paras)}</p>"
        body.append(part)
        size += len(part)
    if fallback:
        body.insert(rng.randrange(1, len(body) + 1),
                    rng.choice(_FALLBACK_CONSTRUCTS))
    return ("<!DOCTYPE html><html>" + head + "<body>"
            f"<!-- page {idx} -->" + nav + side
            + "<article>" + "".join(body) + "</article>"
            + foot + "</body></html>")


def bigpage_records(seed: int, n: int) -> List[Dict]:
    """``n`` WARC response records (``build_warc_gz`` input) of 20-60 KB
    html. Shares, each drawn per record from the seed: 25% chunked, 25%
    gzip content-encoded (independent, so ~6% both), 10% fallback pages
    that hold one construct outside the fast-tokenizer subset."""
    rng = random.Random(f"warc_bigpage/{seed}")
    pool = _Pool(rng)
    base = rng.randrange(0, 10**7)
    out = []
    for k in range(n):
        idx = base + k
        target = rng.randint(BIGPAGE_MIN_BYTES, BIGPAGE_MAX_BYTES)
        fallback = rng.random() < BIGPAGE_FALLBACK_SHARE
        html = _bigpage_html(rng, pool, idx, target, fallback)
        out.append({
            "url": f"https://news{idx % BIGPAGE_HOSTS:02d}.example/a/{idx}.html",
            "warc_ts": EPOCH + _dt.timedelta(seconds=61 * idx),
            "html": html.encode("utf-8"),
            "chunked": rng.random() < BIGPAGE_CHUNKED_SHARE,
            "content_encoding": ("gzip" if rng.random() < BIGPAGE_GZIP_SHARE
                                 else None),
        })
    return out


def bigpage_containers(records: List[Dict], n_files: int) -> List[bytes]:
    """Split records round-robin over ``n_files`` gzip WARC containers,
    built concurrently (zlib releases the GIL while it compresses)."""
    from concurrent.futures import ThreadPoolExecutor

    from ocr_module_spark.sources.warc import build_warc_gz
    with ThreadPoolExecutor(max_workers=n_files) as ex:
        return list(ex.map(lambda f: build_warc_gz(records[f::n_files])[0],
                           range(n_files)))


# ---------------------------------------------------------------------------
# curate_chain: realistic prose with planted duplicates and contamination
# ---------------------------------------------------------------------------

CURATE_DUP_SHARE = 0.13        # near-copies of an earlier document
CURATE_HEAVY_SHARE = 0.02      # one parked-page / syndication cluster
CURATE_EVAL_DOCS = 12          # eval-set size
CURATE_CONTAM_DOCS = 6         # corpus docs that embed an eval passage
CURATE_MIN_WORDS = 200
CURATE_MAX_WORDS = 400


def _mutate(rng: random.Random, text: str, edits: int) -> str:
    words = text.split(" ")
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def _article(rng: random.Random) -> str:
    target = rng.randint(CURATE_MIN_WORDS, CURATE_MAX_WORDS)
    paras, n = [], 0
    while n < target:
        p = _paragraph(rng, 2, 5)
        paras.append(p)
        n += p.count(" ") + 1
    return "\n".join(paras)


def _page(url_idx: int, title: str, article: str) -> bytes:
    paras = "".join(f"<p>{p}</p>" for p in article.split("\n"))
    return (
        "<!DOCTYPE html><html><head><title>" + title + "</title>"
        "<script>var t=1;</script></head><body>"
        "<nav><ul><li><a href=\"/\">home</a></li>"
        "<li><a href=\"/news\">news</a></li></ul></nav>"
        f"<article><h1>{title}</h1>{paras}</article>"
        f"<footer><p>page {url_idx}</p></footer></body></html>"
    ).encode("utf-8")


def curate_inputs(seed: int, n: int) -> Tuple[List[Dict], List[Dict], Dict]:
    """``(pages, eval_docs, plan)`` for the curation chain.

    * pages: ``n`` PAGES_SCHEMA rows wrapping prose articles of 200-400
      words, ~40% stopwords (so the Gopher gate keeps a realistic share);
    * ~13% of pages are near-copies (1-3 word edits) of an earlier page,
      plus one heavy cluster (~2%) of a parked-page template;
    * ``CURATE_CONTAM_DOCS`` pages embed an eval passage verbatim as
      their whole article (planted contamination);
    * eval_docs: ``(doc_id, text)`` rows of the eval set.

    ``plan`` records which urls were planted as what, for the gates."""
    rng = random.Random(f"curate_chain/{seed}")
    evals = [{"doc_id": k, "text": _article(rng).replace("\n", " ")}
             for k in range(CURATE_EVAL_DOCS)]
    parked = _article(rng)
    n_heavy = max(2, round(n * CURATE_HEAVY_SHARE))
    kinds = (["heavy"] * n_heavy
             + ["dup"] * round(n * CURATE_DUP_SHARE)
             + ["contam"] * CURATE_CONTAM_DOCS)
    kinds += ["orig"] * (n - len(kinds))
    rng.shuffle(kinds)
    # a copy needs an earlier original: lead with one
    kinds.insert(0, kinds.pop(kinds.index("orig")))
    base = rng.randrange(0, 10**7)
    pages, originals = [], []
    plan: Dict[str, List[str]] = {"dup": [], "heavy": [], "contam": []}
    for k, kind in enumerate(kinds):
        idx = base + k
        url = f"https://blog{idx % 97:02d}.example/p/{idx}"
        if kind == "orig":
            art = _article(rng)
            originals.append(art)
        elif kind == "dup":
            art = _mutate(rng, rng.choice(originals), rng.randint(1, 3))
        elif kind == "heavy":
            art = _mutate(rng, parked, 1)
        else:
            art = evals[rng.randrange(CURATE_EVAL_DOCS)]["text"]
        if kind != "orig":
            plan[kind].append(url)
        pages.append({
            "url": url,
            "warc_ts": EPOCH + _dt.timedelta(seconds=29 * idx),
            "html": _page(idx, f"post {idx}", art),
            "text": None,
            "lang": "en",
        })
    return pages, evals, plan
