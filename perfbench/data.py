"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
gives the same rows, so two runs of the benchmark (or two commits) see the
same data.  Generation is vectorised NumPy; the caller hands the
frames to Spark and materialises them as parquet.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# journey_train: web journeys, one row per page view, label = the visitor
# eventually converts.  Page-level models predict it from each page.
# ---------------------------------------------------------------------------

_URL_TOKENS = np.array([
    "home", "products", "pricing", "support", "blog", "careers",
    "docs", "checkout", "cart", "demo", "contact", "about",
])
# how strongly each token's click probability follows the visitor's intent
_URL_WEIGHT = np.array([0.0, 0.3, 1.0, -0.2, -0.4, -0.6,
                        0.1, 1.2, 0.9, 0.8, 0.6, -0.3])
_DEVICES = np.array(["desktop", "mobile", "tablet"])
_CHANNELS = np.array(["organic", "paid", "email", "social", "direct"])
_REGIONS = np.array(["na", "sa", "eu", "uk", "in", "sea", "anz", "mea"])


def journeys(seed: int, n_visitors: int) -> pd.DataFrame:
    """``n_visitors`` journeys of 1-6 page views (mean ~3): a URL text
    column, three categoricals, two numericals and the visitor-level 0/1
    ``response`` (~20 % positive).  ``propensity`` is the latent score the
    response was drawn from; no experiment config names it, so training
    never sees it, and it gives the best AUROC any model could reach."""
    rng = np.random.default_rng(seed)
    z = rng.normal(size=n_visitors)
    converted = (z + rng.normal(size=n_visitors) > 1.2).astype(np.int32)
    length = np.clip(1 + rng.poisson(2.0, n_visitors), 1, 6)
    visitor = np.repeat(np.arange(n_visitors), length)
    n = visitor.size
    starts = np.repeat(np.cumsum(length) - length, length)
    page = (np.arange(n) - starts + 1).astype(np.int32)
    zr = z[visitor]

    # three URL tokens per page view, Gumbel-top-k on intent-weighted logits
    logits = zr[:, None] * _URL_WEIGHT[None, :] + rng.gumbel(size=(n, _URL_TOKENS.size))
    picks = np.argsort(-logits, axis=1)[:, :3]
    tok = _URL_TOKENS[picks]
    url = np.char.add(np.char.add(np.char.add("site ", tok[:, 0]), " "),
                      np.char.add(np.char.add(tok[:, 1], " "), tok[:, 2]))

    def categorical(values, shift):
        logits = shift * zr[:, None] * np.linspace(-1, 1, values.size)[None, :]
        logits = logits + rng.gumbel(size=(n, values.size))
        return values[np.argmax(logits, axis=1)]

    dwell = rng.gamma(2.0, 20.0, n) * np.exp(0.35 * zr) * (1 + 0.1 * page)
    scroll = np.clip(rng.beta(2.0, 2.0, n) + 0.08 * zr, 0.0, 1.0)
    return pd.DataFrame({
        "visitor_id": np.char.add(f"v{seed}_", visitor.astype(str)),
        "page": page,
        "url": url,
        "device": categorical(_DEVICES, 0.6),
        "channel": categorical(_CHANNELS, 0.4),
        "region": categorical(_REGIONS, 0.2),
        "dwell": np.round(dwell, 3),
        "scroll": np.round(scroll, 4),
        "response": converted[visitor],
        "propensity": zr,
    })


# ---------------------------------------------------------------------------
# intent_train / intent_score: six intents whose vocabularies overlap, with
# case, digits, stopwords and inflections for the preprocessing chain.
# ---------------------------------------------------------------------------

INTENTS = ("account", "billing", "cancel", "sales", "shipping", "support")
_INTENT_WORDS = {
    "account": "login password profile username locked reset email signin verify settings",
    "billing": "invoice charged charges payment refund overdue bill billing card receipt",
    "cancel": "cancel cancelled cancelling subscription terminate close stop ending quit renewal",
    "sales": "pricing quote demo buying purchase discount upgrade plans offer trial",
    "shipping": "delivery shipped shipping package tracking courier arrived delayed parcel address",
    "support": "error crashed crashing broken fix issue bug help troubleshooting working",
}
# each intent borrows words from one neighbour, so classes overlap
_NEIGHBOUR = {"account": "support", "billing": "cancel", "cancel": "billing",
              "sales": "billing", "shipping": "support", "support": "account"}
_SHARED = (
    "please need want order today yesterday week month team service customer "
    "product app website online phone call number question thanks hello "
    "still again really quickly new old time update information"
).split()
STOPWORDS = ["the", "a", "an", "is", "my", "i", "to", "and", "of", "for",
             "it", "on", "with", "this", "was", "be", "me", "you"]
_DIGITS = ["1234", "98765", "42", "2024", "555", "100"]


def intents(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents of 8-19 words with an ``intent`` label."""
    rng = np.random.default_rng(seed)
    own = {k: v.split() for k, v in _INTENT_WORDS.items()}
    vocab = []
    for k in INTENTS:
        vocab += own[k]
    vocab += _SHARED + STOPWORDS + _DIGITS
    vocab = np.array(vocab)
    offsets = {}
    pos = 0
    for k in INTENTS:
        offsets[k] = pos
        pos += len(own[k])
    shared_lo, shared_n = pos, len(vocab) - pos

    label = rng.integers(0, len(INTENTS), n_docs)
    length = rng.integers(8, 20, n_docs)
    width = int(length.max())
    kind = rng.random((n_docs, width))
    own_lo = np.array([offsets[INTENTS[i]] for i in label])
    nb_lo = np.array([offsets[_NEIGHBOUR[INTENTS[i]]] for i in label])
    pick10 = rng.integers(0, 10, (n_docs, width))
    words = np.where(
        kind < 0.22, own_lo[:, None] + pick10,
        np.where(kind < 0.36, nb_lo[:, None] + pick10,
                 shared_lo + rng.integers(0, shared_n, (n_docs, width))),
    )
    toks = vocab[words]
    upper = rng.random((n_docs, width)) < 0.1
    toks = np.where(upper, np.char.upper(toks), toks)
    text = [" ".join(row[:n]) + "!" for row, n in zip(toks.tolist(), length)]
    return pd.DataFrame({
        "doc_id": np.char.add(f"d{seed}_", np.arange(n_docs).astype(str)),
        "text": text,
        "intent": np.array(INTENTS)[label],
    })


# ---------------------------------------------------------------------------
# the operators probe: small seeded copies of the registry's curation
# tables (documents, events, embeddings, lineitem), with the schemas of the
# query registry's synthetic scale-factor data.
# ---------------------------------------------------------------------------

_DOC_WORDS = np.array((
    "the a fast slow big small data row column table query scan filter join "
    "hash sort merge group agg order customer part line key value window "
    "batch stream spark vector"
).split())
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])


def curation_tables(seed: int, n_docs: int = 500, n_events: int = 10000,
                    n_vectors: int = 500, n_orders: int = 5000) -> dict:
    """``{table: pandas frame}`` for the operators probe.  One document in
    twenty is an earlier document plus the word ``dup`` (a near-duplicate
    for the dedup operators); embeddings are unit-norm 64-d float32."""
    rng = np.random.default_rng(seed)

    length = rng.integers(10, 100, n_docs)
    text = [" ".join(rng.choice(_DOC_WORDS, n)) for n in length]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i:
            text[i] = text[rng.integers(0, i)] + " dup"
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offset_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": start + offset_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    vec = rng.normal(size=(n_vectors, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_vectors).astype(np.int32),
    })

    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": order,
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines)
                         + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": np.datetime64("1992-01-01", "us")
        + rng.integers(0, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]"),
    })
    return {"documents": documents, "events": events,
            "embeddings": embeddings, "lineitem": lineitem}


def intent_oracle(df: pd.DataFrame) -> dict:
    """Weighted precision and F1 of the Bayes classifier that knows the
    generator's word probabilities, over ``df`` (an ``intents`` frame):
    the seed's own reference for the trained model's quality."""
    own = {k: v.split() for k, v in _INTENT_WORDS.items()}
    shared = _SHARED + STOPWORDS + _DIGITS
    vocab = {w: i for i, w in enumerate(sorted({w for ws in own.values() for w in ws}
                                               | set(shared)))}
    prob = np.zeros((len(INTENTS), len(vocab)))
    for c, k in enumerate(INTENTS):
        for w in own[k]:
            prob[c, vocab[w]] += 0.22 / 10
        for w in own[_NEIGHBOUR[k]]:
            prob[c, vocab[w]] += 0.14 / 10
        for w in shared:
            prob[c, vocab[w]] += 0.64 / len(shared)
    with np.errstate(divide="ignore"):  # a word a class never draws: log 0
        logp = np.log(prob)
    pred = np.array([np.argmax(logp[:, [vocab[w] for w in t.rstrip("!").lower().split()]]
                               .sum(axis=1)) for t in df["text"]])
    label = pd.Categorical(df["intent"], categories=INTENTS).codes
    precision = f1 = 0.0
    for c in range(len(INTENTS)):
        tp = np.sum((pred == c) & (label == c))
        p = tp / max(np.sum(pred == c), 1)
        r = tp / max(np.sum(label == c), 1)
        share = np.mean(label == c)
        precision += share * p
        f1 += share * (2 * p * r / (p + r) if p + r else 0.0)
    return {"weightedPrecision": float(precision), "weightedF1": float(f1)}
