"""Deterministic in-repo language resources.

No external downloads (sandbox rule): the fastText-style langid model
and the KenLM-style n-gram LM are synthesized from small public-knowledge
word lists embedded here.  The same lists drive the synthetic pages
generator (pagesgen.py), so the models genuinely discriminate on the
data the pipeline is measured on, and everything is reproducible from
the repo alone.

These stand in for the *artifacts* of the production design (a real
fastText .bin / KenLM .arpa broadcast to executors); the Spark-side
plumbing — broadcast once, score inside Arrow-batched pandas UDFs — is
identical to what a real model would use.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from dqc_spark.wordhash import fold_tokens

LANGS = ["en", "de", "es", "fr", "zh"]

WORDS: dict[str, list[str]] = {
    "en": (
        "the of and to in is that it was for on are as with his they at be "
        "this have from or one had by word but not what all were when your "
        "can said there use each which she how their time will way about "
        "many then them would write like these her long make thing see him "
        "two has look more day could come did number sound most people over"
    ).split(),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie einem über einen so zum war haben nur "
        "oder aber vor zur bis mehr durch man sein wurde sei welt jahr"
    ).split(),
    "es": (
        "de la que el en y a los del se las por un para con no una su al lo "
        "como más pero sus le ya o este sí porque esta entre cuando muy sin "
        "sobre también me hasta hay donde quien desde todo nos durante todos "
        "uno les ni contra otros ese eso ante ellos e esto mí antes algunos"
    ).split(),
    "fr": (
        "de la le et les des en un du une que est pour qui dans a par plus "
        "pas au sur ne se ce il sont la avec son ses mais comme ou si leur "
        "y ont été cette aux vous nous elle deux être sans tout peut ces "
        "dont aussi fait bien où sa très votre tous faire autre après"
    ).split(),
    "zh": list("的一是不了人我在有他这为之大来以个中上们到说国和地也子时道出而要于就下得可你年生"),
}

def _corpus_seq(words: list[str], passes: int = 20) -> list[str]:
    """Deterministic long token sequence per language: stride
    permutations of the word list (no RNG), giving ~passes*len(words)
    mostly-distinct bigrams.  Both the bigram LM and the generator's
    'clean' documents draw from this sequence, so natural documents see
    known bigrams (low perplexity) while uniform word soup does not."""
    n = len(words)
    seq: list[str] = []
    stride = 1
    for _ in range(passes):
        while __import__("math").gcd(stride, n) != 1:
            stride += 1
        seq.extend(words[(j * stride) % n] for j in range(n))
        stride += 1
    return seq


CORPUS_SEQ: dict[str, list[str]] = {}


def corpus_seq(lang: str) -> list[str]:
    if lang not in CORPUS_SEQ:
        CORPUS_SEQ[lang] = _corpus_seq(WORDS[lang])
    return CORPUS_SEQ[lang]


STOPWORDS: dict[str, set[str]] = {
    "en": set("the of and to in is that it was for on are as with be this have from or by".split()),
    "de": set("der die und in den von zu das mit sich des auf für ist im dem nicht ein eine".split()),
    "es": set("de la que el en y a los del se las por un para con no una su al lo".split()),
    "fr": set("de la le et les des en un du une que est pour qui dans par au sur ne se".split()),
    "zh": set("的一是不了在有这也就"),
}


# langid reads at most this many chars — plenty for a trigram profile,
# and it bounds per-doc cost regardless of document size
LANGID_SAMPLE_CHARS = 512

# rolling trigram hash base (odd, > max codepoint); uint64 wraparound is
# part of the hash definition and identical everywhere numpy runs
_TRI_P = np.uint64(1_000_003)


def _trigram_hashes(text: str) -> np.ndarray:
    """Vectorized char-trigram integer hashes: decode to codepoints via
    utf-32, then one fused arithmetic pass — no per-trigram Python."""
    t = " " + " ".join(text.lower().split()) + " "
    c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(c) < 3:
        return np.empty(0, dtype=np.uint64)
    return (c[:-2] * _TRI_P + c[1:-1]) * _TRI_P + c[2:]


def build_langid_model() -> dict:
    """Char-trigram profiles (L2-normalized), compiled to parallel numpy
    arrays: sorted hash keys + an (n_keys, n_langs) weight matrix, so
    scoring one document is unique -> searchsorted -> one matmul.
    Structure mirrors a quantized fastText model (hash buckets + output
    matrix)."""
    per_lang: list[dict[int, float]] = []
    for lang in LANGS:
        corpus = " ".join(WORDS[lang] * 3)
        h = _trigram_hashes(corpus)
        uniq, counts = np.unique(h, return_counts=True)
        norm = math.sqrt(float((counts.astype(np.float64) ** 2).sum())) or 1.0
        per_lang.append({int(k): float(v) / norm for k, v in zip(uniq, counts)})
    all_keys = sorted(set().union(*[set(d) for d in per_lang]))
    keys = np.array(all_keys, dtype=np.uint64)
    weights = np.zeros((len(all_keys), len(LANGS)), dtype=np.float64)
    for li, d in enumerate(per_lang):
        for row, k in enumerate(all_keys):
            w = d.get(k)
            if w:
                weights[row, li] = w
    return {"langs": list(LANGS), "keys": keys, "weights": weights}


def langid_score(text: str, model: dict) -> tuple[str, float]:
    """Predict (lang, confidence) for one document: cosine similarity of
    the doc's trigram profile (over a bounded sample) against each
    language profile.  numpy end-to-end; called per document from inside
    an Arrow batch (and verbatim by the single-process oracle)."""
    h = _trigram_hashes((text or "")[:LANGID_SAMPLE_CHARS])
    if len(h) == 0:
        return "und", 0.0
    uniq, counts = np.unique(h, return_counts=True)
    keys, weights = model["keys"], model["weights"]
    idx = np.searchsorted(keys, uniq)
    idx = np.minimum(idx, len(keys) - 1)
    valid = keys[idx] == uniq
    sims = weights[idx[valid]].T @ counts[valid].astype(np.float64)
    total = float(sims.sum())
    best_i = int(np.argmax(sims))
    if total <= 0.0 or sims[best_i] <= 0.0:
        return "und", 0.0
    return model["langs"][best_i], float(sims[best_i]) / total


def build_lm() -> dict:
    """KenLM-style bigram language model with add-k smoothing, one shared
    model over all in-repo corpora (quality filtering wants 'does this
    look like natural language at all', not per-lang ppl)."""
    unigrams: Counter = Counter()
    bigrams: Counter = Counter()
    for lang in WORDS:
        seq = corpus_seq(lang)
        unigrams.update(seq)
        bigrams.update(zip(seq, seq[1:]))
    vocab = len(unigrams) + 1
    return {
        "unigrams": dict(unigrams),
        "bigrams": {f"{a}\x00{b}": c for (a, b), c in bigrams.items()},
        "total": sum(unigrams.values()),
        "vocab": vocab,
        "k": 0.1,
    }


def build_kn(lm: dict, discount: float = 0.75) -> dict:
    """Derive an interpolated Kneser-Ney bigram model (Kneser & Ney,
    ICASSP 1995; Chen & Goodman 1999 — the smoothing KenLM implements)
    from any add-k LM dict (``build_lm`` or a Spark-trained
    ``lmtrain.train_bigram_lm``).  KN replaces the unigram fallback
    with the CONTINUATION probability — "san" is frequent but only ever
    follows "the"-like contexts poorly, so P_cont('francisco') is low
    even though c('francisco') is high — which is why CCNet-class
    quality filters prefer it to additive smoothing.

    Derived tables (all from the existing bigram counts, no re-scan of
    the corpus):
      n1plus[a]    = |{b : c(ab) > 0}|  (distinct right types per context)
      cont[b]      = |{a : c(ab) > 0}|  (distinct left contexts per word)
      ctx_total[a] = Σ_b c(ab)          (context denominator — NOT the
                     unigram count: they differ at document boundaries
                     and under bigram pruning, and only the bigram-sum
                     denominator makes the distribution normalize)
      types        = total distinct bigrams

    P(b|a) = max(c(ab) - D, 0)/ctx_total[a]
             + D·n1plus[a]/ctx_total[a] · P_cont(b)
    P_cont(b) = (cont[b] + 1) / (types + vocab)   (add-one so unseen
    words keep nonzero mass).  Σ_b∈vocab P(b|a) == 1 EXACTLY for every
    context — including pruned/unseen ones, which back off to P_cont
    entirely — pinned to 1e-12 by test.

    Caveat: bigram keys are NUL-joined strings; a token containing a
    literal NUL (stripped upstream by the normalizer/scrubber) would
    mis-attribute its continuation counts.  Returns a dict with
    ``kind='kn'`` — ``perplexity`` dispatches on it, so every consumer
    (the scoring UDFs) accepts a KN model unchanged.
    """
    if not 0.0 < discount <= 1.0:
        # D=0 makes an unseen bigram under a seen context p=0 (log
        # crash); D>1 breaks the max(c-D,0) telescope and with it the
        # Σ_b P(b|a)=1 invariant the tests pin
        raise ValueError(
            f"discount must be in (0, 1], got {discount}")
    n1plus: Counter = Counter()
    cont: Counter = Counter()
    ctx_total: Counter = Counter()
    for key, c in lm["bigrams"].items():
        a, b = key.split("\x00", 1)
        n1plus[a] += 1
        cont[b] += 1
        ctx_total[a] += c
    return {
        "kind": "kn",
        "bigrams": lm["bigrams"],
        "n1plus": dict(n1plus),
        "cont": dict(cont),
        "ctx_total": dict(ctx_total),
        "types": len(lm["bigrams"]),
        "vocab": lm["vocab"],
        "discount": float(discount),
    }


def kn_perplexity(text: str, kn: dict, logcache: dict | None = None) -> float:
    """Per-document perplexity under an interpolated-KN model
    (``build_kn``).  Same contract as ``perplexity``: deterministic,
    1e9 for empty docs, optional bit-exact log memoization."""
    tokens = fold_tokens(text)
    if not tokens:
        return 1e9
    bi = kn["bigrams"]
    n1p, cont, ctx = kn["n1plus"], kn["cont"], kn["ctx_total"]
    d, types, vocab = kn["discount"], kn["types"], kn["vocab"]
    cont_den = types + vocab

    def logp_pair(a: str, b: str) -> float:
        pc = (cont.get(b, 0) + 1.0) / cont_den
        ca = ctx.get(a, 0)
        if ca == 0:
            # unseen context, or one whose bigrams were all pruned:
            # full backoff (a zero lambda would make p = 0 -> log crash)
            return math.log(pc)
        cab = bi.get(f"{a}\x00{b}", 0)
        return math.log(
            max(cab - d, 0.0) / ca + (d * n1p[a] / ca) * pc)

    logp = math.log((cont.get(tokens[0], 0) + 1.0) / cont_den)
    if logcache is None:
        for a, b in zip(tokens, tokens[1:]):
            logp += logp_pair(a, b)
    else:
        get = logcache.get
        for ab in zip(tokens, tokens[1:]):
            v = get(ab)
            if v is None:
                v = logp_pair(*ab)
                logcache[ab] = v
            logp += v
    return math.exp(-logp / len(tokens))


def perplexity(text: str, lm: dict, logcache: dict | None = None) -> float:
    """Per-document bigram perplexity with add-k smoothing (or
    interpolated KN when ``lm`` carries ``kind='kn'`` — see
    ``build_kn``; the dispatch keeps every scoring consumer
    model-agnostic).  Higher = less natural-language-like.
    Deterministic, shared with the golden
    oracle so Spark-vs-local is a pure distribution differential.

    ``logcache`` (optional) memoizes the per-bigram log term across
    calls — web text repeats bigrams heavily, so a batch-level cache
    halves the cost.  Cached and uncached paths run the IDENTICAL float
    operations in the identical order (the cache stores the finished
    ``math.log`` value), so results are bit-equal with or without it —
    pinned by tests/test_pipeline.py::test_perplexity_cache_is_exact."""
    if lm.get("kind") == "kn":
        return kn_perplexity(text, lm, logcache)
    tokens = fold_tokens(text)
    if not tokens:
        return 1e9
    uni, bi = lm["unigrams"], lm["bigrams"]
    k, vocab, total = lm["k"], lm["vocab"], lm["total"]
    logp = math.log((uni.get(tokens[0], 0) + k) / (total + k * vocab))
    if logcache is None:
        for a, b in zip(tokens, tokens[1:]):
            num = bi.get(f"{a}\x00{b}", 0) + k
            den = uni.get(a, 0) + k * vocab
            logp += math.log(num / den)
    else:
        get = logcache.get
        for ab in zip(tokens, tokens[1:]):
            v = get(ab)
            if v is None:
                a, b = ab
                num = bi.get(f"{a}\x00{b}", 0) + k
                den = uni.get(a, 0) + k * vocab
                v = math.log(num / den)
                logcache[ab] = v
            logp += v
    return math.exp(-logp / len(tokens))
