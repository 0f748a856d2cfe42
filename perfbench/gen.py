"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed and the property block from
``spec.json`` and nothing else: the same seed gives byte-identical files,
and another seed gives different files with the same properties.

- :class:`DropStream` makes raw scrape drops (JSON lines, one file per
  spider) with within-drop and cross-drop duplicate URLs that carry
  conflicting payloads, invalid items, and malformed dates, prices and
  coordinates.  It also keeps the ground truth the ETL check needs:
  the distinct valid URLs and the earliest valid occurrence of each.
- :func:`page_requests` makes the page views the twin check samples.
- :func:`write_corpus` makes the document corpus with planted
  near-duplicate clusters and the clustered 64-d embeddings.

Run ``python3 perfbench/gen.py --seed N --out DIR`` to write one seed's
inputs and print their digest.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def rng_for(seed: int, name: str) -> random.Random:
    return random.Random(f"{seed}:{name}")


def zipf_pick(rng: random.Random, items: list, s: float):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


# --------------------------------------------------------------------------
# raw scrape drops

SPIDERS = [
    "ticketmaster",
    "seatgeek",
    "yelp",
    "google_places",
    "nashville_arcgis",
    "nashville.com-events",
]
# spiders whose canonical row needs a venue (plans.canonicalize validity gate)
VENUE_GATED = {"ticketmaster", "seatgeek"}
TRUSTED_CATEGORIES = ["Music", "Comedy", "Theatre", "Sports", "Festival", "Family", "Arts"]
ADJ = ["blue", "golden", "midnight", "honky", "velvet", "river", "electric",
       "quiet", "broad", "silver", "wild", "lucky", "southern", "neon", "old"]
NOUN = ["moon", "jam", "night", "revival", "session", "showcase", "hour",
        "parade", "social", "market", "review", "special", "circle", "tour"]
DESC_WORDS = ["live", "music", "country", "rock", "jazz", "blues", "festival",
              "comedy", "theater", "game", "acoustic", "bluegrass", "songwriter",
              "family", "outdoor", "downtown", "patio", "tickets", "doors", "open",
              "bar", "kitchen", "dance", "classic", "indie", "orchestra", "match",
              "brunch", "craft", "beer", "local", "artists", "vinyl", "stage"]
VENUES = ["Ryman Auditorium", "Bridgestone Arena", "Exit In", "Station Inn",
          "The Basement East", "Marathon Music Works", "Brooklyn Bowl",
          "Schermerhorn Symphony Center", "Tootsies Orchid Lounge",
          "The Bluebird Cafe", "Cannery Hall", "City Winery", "Nissan Stadium",
          "Geodis Park", "Ascend Amphitheater", "Grand Ole Opry House",
          "3rd and Lindsley", "The End", "Mercy Lounge", "Analog Theater"]
STREETS = ["Broadway", "Church St", "Demonbreun St", "Charlotte Ave", "Gallatin Ave",
           "Music Row", "Main St", "Division St", "Rosa Parks Blvd", "8th Ave S"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
BAD_DATES = ["TBD", "32/45/2025", "next friday", "2025-13-40", "@ 7pm", "soon!"]
BAD_PRICES = ["$abc", "call for price", "--", "n/a"]
BAD_COORDS = ["north", "36.1.2", "", "unknown"]
FIELDS = ["name", "url", "description", "source", "neighborhood", "event_id",
          "venue_name", "venue_city", "venue_address", "event_date", "category",
          "genre", "season", "latitude", "longitude", "price"]


def drop_marker(idx: int) -> str:
    """Search token carried by every item name of drop ``idx``; a page
    view searching it shows exactly that drop's new rows."""
    return f"dropmark{idx:05d}"


class DropStream:
    """Raw drops for one seed, in landing order.

    ``expected_urls`` is the set of URLs with at least one valid
    occurrence so far; ``first_valid[url]`` is the occurrence tag
    (``occNNNNNNN`` in the description) of its earliest valid occurrence,
    which the reference's ON CONFLICT DO NOTHING keeps."""

    def __init__(self, seed: int, props: dict, stream: str, now_year: int):
        self.seed = seed
        self.props = props
        self.stream = stream
        self.now_year = now_year
        self.rng = rng_for(seed, f"drops:{stream}")
        self.urls: list[str] = []
        self.first_valid: dict[str, str] = {}
        self.occ = 0
        self.n_drops = 0

    @property
    def expected_urls(self) -> set[str]:
        return set(self.first_valid)

    def _date(self, spider: str) -> str | None:
        r = self.rng
        if r.random() < self.props["malformed_date_share"]:
            return r.choice(BAD_DATES)
        m, d = r.randrange(12), r.randrange(1, 29)
        hh, mm = r.randrange(12, 23), r.choice([0, 15, 30, 45])
        if spider == "nashville.com-events":
            h12 = hh - 12 if hh > 12 else hh
            return f"{MONTHS[m]} {d} @ {h12}:{mm:02d} pm"
        if spider in ("ticketmaster", "seatgeek"):
            sep = r.choice([" ", "T"])
            return f"{self.now_year}-{m + 1:02d}-{d:02d}{sep}{hh:02d}:{mm:02d}:00"
        return None

    def _price(self) -> str | None:
        r = self.rng
        u = r.random()
        if u < self.props["malformed_price_share"]:
            return r.choice(BAD_PRICES)
        if u < 0.25:
            return "Free"
        if u < 0.25 + self.props["null_share"]:
            return None
        return f"${r.randrange(5, 150)}.{r.choice(['00', '50', '99'])}"

    def _optional(self, values: list[str]) -> str | None:
        r = self.rng
        return None if r.random() < self.props["null_share"] else r.choice(values)

    def _coord(self, base: float) -> str | None:
        r = self.rng
        if r.random() < self.props["malformed_coord_share"]:
            return r.choice(BAD_COORDS)
        return f"{base + r.uniform(-0.15, 0.15):.6f}"

    def _item(self, spider: str, url: str, marker: str) -> tuple[dict, bool]:
        r = self.rng
        self.occ += 1
        tag = f"occ{self.occ:07d}"
        name = f"{r.choice(ADJ).title()} {r.choice(NOUN).title()} {marker}"
        venue = r.choice(VENUES)
        if r.random() < self.props["invalid_share"]:
            # invalid: empty name, or missing venue where the spider needs one
            if spider in VENUE_GATED and r.random() < 0.5:
                venue = ""
            else:
                name = ""
        words = " ".join(r.choice(DESC_WORDS) for _ in range(r.randrange(6, 16)))
        item = {
            "name": name,
            "url": url,
            "description": f"{words} {tag}",
            "source": spider,
            "neighborhood": self._optional(["Downtown", "East", "Midtown", "Germantown"]),
            "event_id": f"e{self.occ}",
            "venue_name": venue,
            "venue_city": "Nashville",
            "venue_address": f"{r.randrange(100, 2000)} {r.choice(STREETS)}",
            "event_date": self._date(spider),
            "category": self._optional(TRUSTED_CATEGORIES),
            "genre": None,
            "season": None,
            "latitude": self._coord(36.16),
            "longitude": self._coord(-86.78),
            "price": self._price(),
        }
        valid = name != "" and (spider not in VENUE_GATED or venue != "")
        return item, valid

    def next_drop(self, counts: dict[str, int]) -> list[tuple[str, list[dict]]]:
        """One drop with ``counts[spider]`` items per spider, as (spider,
        items) parts in landing order (spiders in ``SPIDERS`` order)."""
        r = self.rng
        idx = self.n_drops
        self.n_drops += 1
        marker = drop_marker(idx)
        in_drop: list[str] = []
        parts = []
        dup_share = self.props["dup_within_share"] + self.props["dup_cross_share"]
        for spider in SPIDERS:
            items = []
            for _ in range(counts.get(spider, 0)):
                u = r.random()
                if in_drop and u < self.props["dup_within_share"]:
                    url = r.choice(in_drop)
                elif self.urls and u < dup_share:
                    url = r.choice(self.urls)
                else:
                    key = f"{self.seed}:{self.stream}:{len(self.urls)}".encode()
                    url = f"https://events.example/{self.stream}/{hashlib.md5(key).hexdigest()[:10]}"
                    self.urls.append(url)
                in_drop.append(url)
                item, valid = self._item(spider, url, marker)
                items.append(item)
                if valid and url not in self.first_valid:
                    self.first_valid[url] = item["description"].rsplit(" ", 1)[1]
            if items:
                parts.append((spider, items))
        return parts


def drop_counts(seed: int, props: dict, idx: int, kind: str | None = None) -> dict[str, int]:
    """Items per spider of drop ``idx``: its kind's counts (the next in
    ``size_pattern`` unless ``kind`` is given), each up to ``size_jitter``
    below the count, as an API returns fewer rows than its cap."""
    kind = kind or props["size_pattern"][idx % len(props["size_pattern"])]
    r = rng_for(seed, f"size:{idx}")
    return {spider: int(round(n * (1 - r.uniform(0, props["size_jitter"]))))
            for spider, n in props["drops"][kind].items()}


def write_drop(parts: list[tuple[str, list[dict]]], out_dir: str, idx: int) -> list[tuple[str, str, int]]:
    """Write one drop as JSON lines per spider; returns (spider, path, n)."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for spider, items in parts:
        path = os.path.join(out_dir, f"drop{idx:05d}_{spider}.jsonl")
        with open(path, "w") as f:
            for it in items:
                f.write(json.dumps({k: it[k] for k in FIELDS}, sort_keys=False) + "\n")
        files.append((spider, path, len(items)))
    return files


# --------------------------------------------------------------------------
# page-view requests

SEARCH_TERMS = [w for w in DESC_WORDS] + [a for a in ADJ] + [n for n in NOUN] + [
    "ryman", "bluebird", "station", "broadway", "opry", "winery", "bowl"]
SOURCE_VALUES = ["Ticketmaster", "SeatGeek", "Yelp", "Google Places",
                 "Nashville ArcGIS", "Nashville Events"]
CATEGORY_VALUES = ["Music", "music", "Comedy", "Sports", "Festival", "Theatre",
                   "Family", "Arts", "Civic Facility", "Business", "Attraction",
                   "comedy", "festival", "theater", "sports"]


def page_requests(seed: int, props: dict, n: int, stream: str) -> list[dict]:
    """``n`` seeded page-view requests, searches and browses in turn, with
    skewed term and filter popularity and page depth as in ``props``."""
    r = rng_for(seed, f"requests:{stream}")
    s = props["zipf_exponent"]
    out = []
    for i in range(n):
        req = {"source": None, "category": None, "search": None}
        if i % 2 == 0:
            n_terms = 1 if r.random() < 0.7 else 2
            req["search"] = " ".join(zipf_pick(r, SEARCH_TERMS, s) for _ in range(n_terms))
        if r.random() < props["source_filter_share"]:
            req["source"] = zipf_pick(r, SOURCE_VALUES, s)
        if r.random() < props["category_filter_share"]:
            req["category"] = zipf_pick(r, CATEGORY_VALUES, s)
        page = 1
        while page < props["max_page"] and r.random() < props["page_depth_continue_p"]:
            page += 1 if page < 3 else r.randrange(1, 6)
        req["page"] = min(page, props["max_page"])
        out.append(req)
    return out


def census_requests(props: dict) -> list[dict]:
    """The four fixed page views of the serving census: search and
    browse, each on page 1 and on a deep page."""
    deep = props["deep_page_min"]
    return [{"search": search, "source": None, "category": None, "page": page}
            for search in (props["census_term"], None) for page in (1, deep)]


# --------------------------------------------------------------------------
# document corpus + embeddings

WORDS_SYL = ["ka", "lo", "mi", "ner", "tu", "sa", "vo", "ri", "den", "pa",
             "gu", "shi", "mor", "le", "ban", "zo", "qui", "tor", "fe", "nal"]
LANG_HINTS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "que", "y", "los"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "les", "et", "est"],
}
STOP = ["the", "a", "and", "of", "to"]


def _vocab(seed: int) -> list[str]:
    r = rng_for(seed, "vocab")
    words = set()
    while len(words) < 3000:
        words.add("".join(r.choice(WORDS_SYL) for _ in range(r.randrange(2, 4))))
    return sorted(words)


def _lines(tokens: list[str], r: random.Random) -> str:
    out, i = [], 0
    while i < len(tokens):
        k = r.randrange(8, 16)
        out.append(" ".join(tokens[i:i + k]))
        i += k
    return "\n".join(out)


def _doc_tokens(kind: str, lang: str, vocab: list[str], r: random.Random, mean: int) -> list[str]:
    n = max(30, int(r.gauss(mean, mean * 0.2)))
    if kind == "too_short":
        n = r.randrange(5, 18)
    toks = [r.choice(vocab) for _ in range(n)]
    hints = LANG_HINTS.get(lang, [])
    if kind != "no_language" and hints:
        for _ in range(r.randrange(2, 5)):
            toks[r.randrange(len(toks))] = r.choice(hints)
    if kind == "low_quality":
        # stopword-heavy with a small working vocabulary: quality < 0.55
        small = [r.choice(vocab) for _ in range(6)]
        toks = [r.choice(STOP) if i % 2 == 0 else r.choice(small) for i in range(n)]
    return toks


def corpus_docs(seed: int, props: dict, n_docs: int | None = None) -> tuple[list[dict], dict[int, int]]:
    """(docs, cluster) where cluster maps a planted near-duplicate to the
    doc id of its cluster's base document."""
    r = rng_for(seed, "corpus")
    vocab = _vocab(seed)
    n_docs = n_docs or props["docs"]
    shares = props["verdict_shares"]
    langs = ["en", "en", "es", "de", "fr"]
    docs: list[dict] = []
    cluster: dict[int, int] = {}
    lo, hi = props["cluster_size"]
    n_dup_target = int(n_docs * props["near_dup_share"])
    n_dups = 0
    order = list(range(n_docs))
    r.shuffle(order)  # doc ids are not in generation order
    while len(docs) < n_docs:
        u, kind, acc = r.random(), "kept", 0.0
        for k, s in shares.items():
            acc += s
            if u < acc:
                kind = k
                break
        lang = "zh" if kind == "no_language" else r.choice(langs)
        toks = _doc_tokens(kind, lang, vocab, r, props["mean_tokens"])
        if kind == "repetitive":
            line = " ".join(toks[:10])
            text = "\n".join([line] * 6 + [" ".join(toks[10:20])])
        else:
            text = _lines(toks, r)
        if kind == "contains_pii":
            text += f"\ncontact {r.choice(vocab)}.{r.choice(vocab)}@mail.example"
        base_id = order[len(docs)]
        docs.append({"doc_id": base_id, "text": text, "lang": lang,
                     "source": f"src{r.randrange(20)}"})
        if kind == "kept" and n_dups < n_dup_target:
            for _ in range(r.randrange(lo, hi + 1) - 1):
                if len(docs) >= n_docs:
                    break
                var = list(toks)
                for _ in range(max(1, int(len(var) * props["near_dup_edit_share"]))):
                    var[r.randrange(len(var))] = r.choice(vocab)
                vid = order[len(docs)]
                docs.append({"doc_id": vid, "text": _lines(var, r), "lang": lang,
                             "source": f"src{r.randrange(20)}"})
                cluster[vid] = base_id
                n_dups += 1
    for d in docs:
        d["n_chars"] = len(d["text"])
    docs.sort(key=lambda d: d["doc_id"])
    return docs, cluster


def corpus_embeddings(seed: int, props: dict) -> list[dict]:
    r = rng_for(seed, "embeddings")
    n = props["embeddings"]
    dim, k = props["dim"], props["embedding_clusters"]
    centers = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(k)]
    rows: list[dict] = []
    for i in range(n):
        if rows and r.random() < props["embedding_near_dup_share"]:
            src = r.choice(rows)
            eps = r.uniform(0.001, 0.05)
            vec = [x + r.gauss(0, eps) for x in src["embedding"]]
            label = src["label"]
        else:
            c = r.randrange(k)
            vec = [x + r.gauss(0, 0.6) for x in centers[c]]
            label = c
        rows.append({"vec_id": i, "embedding": [float(f"{x:.5f}") for x in vec],
                     "label": label})
    return rows


def write_corpus(seed: int, props: dict, out_dir: str,
                 n_docs: int | None = None) -> dict[int, int]:
    """Write documents.parquet and embeddings.parquet; return the planted
    near-duplicate map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs, cluster = corpus_docs(seed, props, n_docs)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": pa.array([d["text"] for d in docs], pa.string()),
            "lang": pa.array([d["lang"] for d in docs], pa.string()),
            "source": pa.array([d["source"] for d in docs], pa.string()),
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = corpus_embeddings(seed, props)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([e["vec_id"] for e in emb], pa.int64()),
            "embedding": pa.array([e["embedding"] for e in emb], pa.list_(pa.float32())),
            "label": pa.array([e["label"] for e in emb], pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return cluster


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = load_spec()
    paths = []
    stream = DropStream(args.seed, spec["etl_refresh"], "etl", spec["now_year"])
    for i in range(6):
        parts = stream.next_drop(drop_counts(args.seed, spec["etl_refresh"], i))
        paths += [p for _, p, _ in write_drop(parts, os.path.join(args.out, "drops"), i)]
    write_corpus(args.seed, spec["curate_corpus"], os.path.join(args.out, "corpus"))
    paths += [os.path.join(args.out, "corpus", f) for f in ("documents.parquet", "embeddings.parquet")]
    reqs = page_requests(args.seed, spec["serving"], spec["serving"]["twin_check_views"], "twin")
    req_path = os.path.join(args.out, "requests.json")
    with open(req_path, "w") as f:
        json.dump(reqs, f)
    paths.append(req_path)
    print(json.dumps({"seed": args.seed, "files": len(paths), "sha256": digest(paths),
                      "expected_urls": len(stream.expected_urls), "requests": len(reqs)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
