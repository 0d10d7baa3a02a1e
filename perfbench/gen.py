"""Seeded input generators for the three benchmark workloads.

Everything here is plain numpy/pandas: the same ``seed`` gives the same
inputs, a different seed gives different ones, and each generator returns
the truth the output checks need next to the inputs. Nothing imports Spark.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# metres per degree of latitude (spherical earth, the same scale the
# library's metre distances use); longitude scales by cos(latitude)
M_PER_DEG = 111_195.0

# --------------------------------------------------------------- points


def _radius_at(xs, ys, cx, cy, theta):
    """Boundary radius of a star-convex ring around (cx, cy) at angles
    ``theta``, interpolated between vertex angles."""
    ang = np.arctan2(ys - cy, xs - cx)
    rad = np.hypot(xs - cx, ys - cy)
    order = np.argsort(ang)
    return np.interp(theta, ang[order], rad[order], period=2 * np.pi)


def make_points(geoms: dict, n: int, seed: int, near_share: float = 0.02,
                beyond_share: float = 0.005, max_near_m: float = 25_000.0
                ) -> pd.DataFrame:
    """``n`` points over a prepared star-convex region set (``geoms`` as in
    ``PreparedRegions.geoms``), in three planted kinds:

    * ``inside``: well inside a random region;
    * ``near``: just outside a region, 0.3 km to ``max_near_m`` beyond its
      boundary along the ray from its centre (so within a 30 km range);
    * ``beyond``: a band 1.5-2.5 degrees north of every region, far beyond
      any 30 km range.

    Returns ``row_id, latitude, longitude, kind`` in shuffled row order.
    The planted kind only steers the mix; the checks use brute-force truth.
    """
    rng = np.random.default_rng(seed)
    polys = list(geoms.values())
    n_beyond = int(round(n * beyond_share))
    n_near = int(round(n * near_share))
    n_inside = n - n_near - n_beyond
    lat = np.empty(n)
    lon = np.empty(n)
    kind = np.empty(n, dtype=object)

    # per point: region, ray angle, and either a fraction of the boundary
    # radius (inside) or a distance in metres beyond it (near)
    m = n_inside + n_near
    which = rng.integers(0, len(polys), m)
    theta = rng.uniform(-np.pi, np.pi, m)
    frac = np.ones(m)
    frac[:n_inside] = np.sqrt(rng.uniform(0.0, 1.0, n_inside)) * 0.9
    beyond_m = np.zeros(m)
    beyond_m[n_inside:] = rng.uniform(300.0, max_near_m, n_near)
    for p, (xs, ys, _offs, _bbox) in enumerate(polys):
        sel = np.flatnonzero(which == p)
        cx, cy = xs.mean(), ys.mean()
        r = _radius_at(xs, ys, cx, cy, theta[sel]) * frac[sel]
        lat[sel] = (cy + r * np.sin(theta[sel])
                    + beyond_m[sel] * np.sin(theta[sel]) / M_PER_DEG)
        lon[sel] = (cx + r * np.cos(theta[sel]) + beyond_m[sel]
                    * np.cos(theta[sel]) / (M_PER_DEG * np.cos(np.radians(lat[sel]))))
    kind[:m] = np.where(np.arange(m) < n_inside, "inside", "near")

    allx = np.concatenate([g[0] for g in polys])
    ally = np.concatenate([g[1] for g in polys])
    b = slice(n - n_beyond, n)
    lat[b] = ally.max() + rng.uniform(1.5, 2.5, n_beyond)
    lon[b] = rng.uniform(allx.min(), allx.max(), n_beyond)
    kind[b] = "beyond"

    perm = rng.permutation(n)
    return pd.DataFrame({"row_id": np.arange(n, dtype=np.int64),
                         "latitude": lat[perm], "longitude": lon[perm],
                         "kind": kind[perm]})


def make_lookup_points(geoms: dict, n: int, seed: int) -> pd.DataFrame:
    """``n`` points uniform over a region set's bounding box padded by 5%
    (a lookup request: some hit, some miss)."""
    rng = np.random.default_rng(seed)
    x0 = min(g[3][0] for g in geoms.values())
    y0 = min(g[3][1] for g in geoms.values())
    x1 = max(g[3][2] for g in geoms.values())
    y1 = max(g[3][3] for g in geoms.values())
    px, py = 0.05 * (x1 - x0), 0.05 * (y1 - y0)
    return pd.DataFrame({
        "row_id": np.arange(n, dtype=np.int64),
        "latitude": rng.uniform(y0 - py, y1 + py, n),
        "longitude": rng.uniform(x0 - px, x1 + px, n)})


def brute_force_assign(geoms: dict, seqs: dict, lat, lon,
                       max_distance_m: float | None = None) -> np.ndarray:
    """Reference assignment with the unprepared kernels: the first
    containing region by ``region_seq``; otherwise, when ``max_distance_m``
    is given, the nearest region within it (ties to the lower seq)."""
    from geocode_spark.geometry import dist_to_polygon_m, points_in_polygon

    lat = np.asarray(lat, np.float64)
    lon = np.asarray(lon, np.float64)
    rids = sorted(geoms, key=lambda r: seqs[r])
    out = np.full(len(lat), None, dtype=object)
    for rid in rids:
        xs, ys, offs, _ = geoms[rid]
        todo = np.flatnonzero(pd.isna(out))
        if not todo.size:
            break
        hit = points_in_polygon(lon[todo], lat[todo], xs, ys, offs)
        out[todo[hit]] = rid
    if max_distance_m is not None:
        miss = np.flatnonzero(pd.isna(out))
        if miss.size:
            dist = np.stack([dist_to_polygon_m(lon[miss], lat[miss], *geoms[r][:3])
                             for r in rids])
            best = dist.argmin(axis=0)  # argmin keeps the first (lowest seq)
            ok = dist[best, np.arange(miss.size)] <= max_distance_m
            out[miss[ok]] = np.asarray(rids, dtype=object)[best[ok]]
    return out


# ---------------------------------------------------------------- pages

_POSTCODE_RE = re.compile(r"^[A-Z]{1,2}[0-9][A-Z0-9]?[0-9][A-Z]{2}$")
_LETTERS = np.array(list("ABDEFGHJLNPQRSTUWXYZ"))
_FILLER = np.array(
    "the of and to in is was for on are with as by at from this that be "
    "have it not or which an were has but been their more will would "
    "about after also city road street house local council market station "
    "school park bridge river north south east west centre new old high "
    "church green lane hill view court place square farm mill close way "
    "community service office shop open hours news event report weather "
    "travel near area town village county district planning notice public "
    "transport parking building project residents visitors people".split())


def known_postcodes(cpo_raw: pd.DataFrame) -> list[str]:
    """Despaced CPO postcodes a page can mention and the forward geocoder
    matches exactly: rows surviving the library's (0, 0)-coordinate filter
    whose code is a well-formed UK postcode."""
    keep = ~((cpo_raw["Eastings"] == 0) & (cpo_raw["Northings"] == 0))
    codes = cpo_raw.loc[keep, "Postcode"].str.upper().str.replace(" ", "")
    return sorted({c for c in codes if _POSTCODE_RE.match(c)})


def make_pages(cpo_raw: pd.DataFrame, n: int, seed: int,
               mean_chars: float = 3000.0, mean_mentions: float = 2.0,
               partial_share: float = 0.08, unknown_share: float = 0.07
               ) -> tuple[pd.DataFrame, dict]:
    """A Common-Crawl-style page table ``(url, warc_ts, html, text, lang)``.

    Text length is log-normal around ``mean_chars``; each page mentions a
    Poisson(``mean_mentions``) number of postcodes, written with or without
    the space. A mention is ``exact`` (a known CPO code), ``partial`` (a
    known outward code with an inward code CPO lacks) or ``unknown`` (an
    outward code CPO lacks). Filler words hold no digits, so the postcode
    extractor finds exactly the planted mentions.

    Returns the pages and the truth: per-kind mention counts and the
    measured input shares."""
    rng = np.random.default_rng(seed)
    exact_codes = known_postcodes(cpo_raw)
    exact_set = set(exact_codes)
    outwards = sorted({c[:-3] for c in exact_codes})
    areas = {re.match(r"[A-Z]+", c).group(0) for c in cpo_raw["Postcode"]}
    unknown_areas = [a + b for a in "QJK" for b in "QVXZ" if a + b not in areas]

    def inwards(m):
        return np.char.add(rng.integers(0, 10, m).astype(str),
                           np.char.add(rng.choice(_LETTERS, m),
                                       rng.choice(_LETTERS, m)))

    # every draw is made for the whole corpus at once; only the assembly
    # of each page's words is a Python loop
    n_chars = np.clip(rng.lognormal(np.log(mean_chars), 0.5, n), 200, 40_000)
    n_words = np.maximum((n_chars / 6.5).astype(int), 1)
    filler = _FILLER.tolist()
    words = rng.integers(0, len(filler), int(n_words.sum())).tolist()
    n_mentions = rng.poisson(mean_mentions, n)
    m = int(n_mentions.sum())
    kind = rng.choice(3, m, p=[1 - partial_share - unknown_share,
                               partial_share, unknown_share])
    codes = np.empty(m, dtype=object)
    ex = np.flatnonzero(kind == 0)
    codes[ex] = np.asarray(exact_codes, dtype=object)[
        rng.integers(0, len(exact_codes), ex.size)]
    un = np.flatnonzero(kind == 2)
    codes[un] = np.char.add(np.char.add(
        np.asarray(unknown_areas)[rng.integers(0, len(unknown_areas), un.size)],
        rng.integers(1, 10, un.size).astype(str)), inwards(un.size))
    # partial: a known outward code with an inward code CPO lacks
    todo = np.flatnonzero(kind == 1)
    while todo.size:
        codes[todo] = np.char.add(
            np.asarray(outwards)[rng.integers(0, len(outwards), todo.size)],
            inwards(todo.size))
        todo = todo[[c in exact_set for c in codes[todo]]]
    spaced = rng.random(m) < 0.7
    where = rng.random(m)
    counts = {k: int((kind == i).sum())
              for i, k in enumerate(("exact", "partial", "unknown"))}
    texts = []
    w0 = j = 0
    for i in range(n):
        page = list(map(filler.__getitem__, words[w0:w0 + n_words[i]]))
        w0 += n_words[i]
        for _ in range(n_mentions[i]):
            code = str(codes[j])
            page.insert(int(where[j] * (len(page) + 1)),
                        code[:-3] + (" " if spaced[j] else "") + code[-3:])
            j += 1
        texts.append(" ".join(page))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    pages = pd.DataFrame({
        "url": [f"https://pages.example/{seed}/{i}" for i in range(n)],
        "warc_ts": ts0 + rng.integers(0, 86_400 * 365, n).astype(
            "timedelta64[s]").astype("timedelta64[us]"),
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": "en",
    })
    lengths = np.array([len(t) for t in texts])
    total = max(sum(counts.values()), 1)
    truth = {
        "mentions": int(sum(counts.values())),
        "counts": counts,
        "shares": {
            "text_chars_q1_q2_q3": [float(q) for q in
                                    np.percentile(lengths, [25, 50, 75])],
            "mentions_per_doc": float(n_mentions.mean()),
            "unknown_share": counts["unknown"] / total,
            "partial_share": counts["partial"] / total,
        },
    }
    return pages, truth


# ---------------------------------------------------------------- dedup

_VOCAB_SIZE = 4000


def _vocab(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, _VOCAB_SIZE)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def shingles(text: str, k: int = 5) -> set[str]:
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def make_dedup_corpus(n: int, seed: int, dup_share: float = 0.2,
                      n_words: int = 80, edit_share: float = 0.03
                      ) -> tuple[pd.DataFrame, dict]:
    """``n`` documents ``(doc_id, text)`` of random words; ``dup_share`` of
    them belong to planted near-duplicate clusters of 2-4 members, each a
    copy of the cluster's base text with ``edit_share`` of its words
    replaced. Returns the corpus and the truth: the planted clusters as
    lists of doc ids, plus the measured share and Jaccard (5-character
    shingles) of the planted pairs."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_dup = int(n * dup_share)
    while len(texts) < n_dup:
        size = int(min(rng.integers(2, 5), n_dup - len(texts)))
        if size < 2:
            break
        base = rng.choice(vocab, n_words)
        ids = []
        for _ in range(size):
            words = base.copy()
            edit = rng.random(n_words) < edit_share
            words[edit] = rng.choice(vocab, int(edit.sum()))
            ids.append(len(texts))
            texts.append(" ".join(words))
        clusters.append(ids)
    while len(texts) < n:
        texts.append(" ".join(rng.choice(vocab, n_words)))
    perm = rng.permutation(n)  # new id of the doc at old position j
    clusters = [sorted(int(perm[j]) for j in c) for c in clusters]
    ordered = [None] * n
    for j, t in enumerate(texts):
        ordered[perm[j]] = t
    corpus = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                           "text": ordered})
    jac = []
    for c in clusters[:200]:
        a, b = shingles(ordered[c[0]]), shingles(ordered[c[1]])
        jac.append(len(a & b) / len(a | b))
    truth = {
        "clusters": clusters,
        "shares": {
            "planted_dup_share": sum(len(c) for c in clusters) / n,
            "planted_jaccard_mean": float(np.mean(jac)) if jac else 0.0,
            "planted_jaccard_min": float(np.min(jac)) if jac else 0.0,
        },
    }
    return corpus, truth
