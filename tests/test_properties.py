"""Property-based tests (hypothesis): similarity functions agree with the
DuckDB oracle on arbitrary inputs; marking and hashing invariants hold.

No SparkSession needed — these pin down the pure functions the distributed
operators are built from.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from word_sense_disambiguation_spark.functions.hashing import (
    char_shingles,
    hamming64,
    minhash_signature,
    simhash64,
)
from word_sense_disambiguation_spark.functions.similarity import jaro_winkler
from word_sense_disambiguation_spark.functions.text import (
    SentenceAlreadyMarkedError,
    WordNotFoundError,
    extract_text,
    mark_word_in_sentence,
    wrap_html,
)

_ascii_word = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=0, max_size=24
)


@settings(max_examples=200, deadline=None)
@given(_ascii_word, _ascii_word)
def test_jaro_winkler_matches_duckdb(a, b):
    d = duckdb.sql("select jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0]
    assert abs(jaro_winkler(a, b) - d) < 1e-9, (a, b)


@settings(max_examples=100, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_html_roundtrip_property(text):
    assert extract_text(wrap_html(text, title="t")) == text


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_ascii_word.filter(lambda w: len(w) >= 1), min_size=1, max_size=12),
    st.integers(min_value=0, max_value=11),
)
def test_marking_invariants(words, idx):
    sentence = " ".join(words)
    word = words[idx % len(words)]
    marked = mark_word_in_sentence(sentence, word)
    assert marked.count("*") == 2
    assert f"*{word}*" in marked or f"*{word.lower()}*" in marked.lower()
    with pytest.raises(SentenceAlreadyMarkedError):
        mark_word_in_sentence(marked, word)
    with pytest.raises(WordNotFoundError):
        mark_word_in_sentence(sentence, "q" + "".join(words) + "x")


@settings(max_examples=50, deadline=None)
@given(st.text(min_size=0, max_size=300))
def test_minhash_self_identity(text):
    s1 = minhash_signature(char_shingles(text), 64)
    s2 = minhash_signature(char_shingles(text), 64)
    assert (s1 == s2).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(_ascii_word, min_size=0, max_size=30))
def test_simhash_hamming_bounds(tokens):
    h = simhash64(tokens)
    assert 0 <= h < (1 << 64)
    assert hamming64(h, h) == 0
    assert hamming64(h, ~h & ((1 << 64) - 1)) == 64


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_parse_image_dims_never_raises_on_garbage(payload):
    """Crawl payloads are adversarial by default: the header parser must
    return a tuple or None on ANY byte string, never raise — malformed
    input falls through to the fake decoder. Also fuzzes prefixes that
    start like real formats (PNG signature / JPEG SOI) but truncate."""
    from word_sense_disambiguation_spark.operators.multimodal import (
        parse_image_dims,
    )

    for p in (payload, b"\x89PNG\r\n\x1a\n" + payload, b"\xff\xd8" + payload):
        out = parse_image_dims(p)
        assert out is None or (
            len(out) == 3 and out[0] in ("png", "jpeg")
            and out[1] >= 0 and out[2] >= 0
        )


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(), st.just([]), st.lists(_ascii_word, min_size=1, max_size=40)
        ),
        min_size=0,
        max_size=25,
    )
)
def test_simhash_batch_identity(bags):
    """The vectorized bit-plane batch kernel is bit-identical to the
    per-row reference, including None/empty bags and slab splits."""
    from word_sense_disambiguation_spark.functions.hashing import simhash64_batch

    ref = [simhash64(b or []) for b in bags]
    assert [int(x) for x in simhash64_batch(bags)] == ref
    # a tiny slab bound forces documents to straddle slabs
    assert [int(x) for x in simhash64_batch(bags, max_occ=3)] == ref


@settings(max_examples=50, deadline=None)
@given(st.text(min_size=0, max_size=150), st.text(min_size=0, max_size=150))
def test_minhash_union_is_elementwise_min(a, b):
    """sig(A ∪ B) == min(sig(A), sig(B)) — the defining MinHash law; also
    exercises arbitrary cache hit/miss mixes in the row-cached kernel
    (the empty-set sentinel is the identity of elementwise min)."""
    import numpy as np

    sa = minhash_signature(char_shingles(a), 64)
    sb = minhash_signature(char_shingles(b), 64)
    su = minhash_signature(char_shingles(a) + char_shingles(b), 64)
    assert (su == np.minimum(sa, sb)).all()


@settings(max_examples=60, deadline=None)
@given(st.sets(st.integers(min_value=0x0391, max_value=0x044F), max_size=100))
def test_letters_probe_property(banned):
    """Any probe either yields exactly 128 distinct ids drawn only from
    admitted symbols, or raises loudly — never a silent short set."""
    from word_sense_disambiguation_spark.functions.letters import (
        NUM_LETTERS,
        NotEnoughLettersError,
        build_letters,
    )

    frozen = frozenset(banned)

    def probe(c, _f=frozen):
        return None if ord(c) in _f else ord(c)

    try:
        ls = build_letters(probe)
    except NotEnoughLettersError:
        return  # loud failure is a valid outcome when too much is banned
    assert len(ls.letters) == NUM_LETTERS
    assert len(set(ls.token_ids)) == NUM_LETTERS
    assert all(ord(c) not in frozen for c in ls.letters)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_ascii_word, _ascii_word), min_size=0, max_size=40))
def test_jaro_winkler_batch_identity(pairs):
    """The memoized batch kernel (equality fast path + symmetric
    unique-pair memo) must be value-identical to the scalar kernel —
    including duplicated pairs, flipped pairs, and empty strings."""
    from word_sense_disambiguation_spark.functions.similarity import (
        jaro_winkler_batch,
    )

    pairs = pairs + [(b, a) for a, b in pairs] + pairs  # dupes + flips
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    got = jaro_winkler_batch(s1, s2)
    for (a, b), g in zip(pairs, got):
        assert abs(g - jaro_winkler(a, b)) < 1e-15, (a, b)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=0, max_size=40),
        min_size=1,
        max_size=25,
    )
)
def test_pack_documents_layout_algebra(texts):
    """For ANY corpus: per-shard offsets tile [0, sum(n_tokens)) exactly
    (no gaps, no overlaps) and every chunk span matches the offset
    arithmetic — the invariant a trainer's reader relies on."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        pack_documents,
    )
    from word_sense_disambiguation_spark.session import get_spark

    spark = get_spark(
        app_name="prop_tests", master="local[2]", shuffle_partitions=4
    )
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = pack_documents(docs, capacity=7, shards=3).collect()
    assert len(out) == len(texts)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.start_offset)
        off = 0
        for r in rs:
            assert r.start_offset == off
            assert r.chunk_first == r.start_offset // 7
            assert r.chunk_last == max(r.start_offset + r.n_tokens - 1, r.start_offset) // 7
            off += r.n_tokens


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_redact_pii_idempotent_and_lossless_on_clean(text):
    """Redaction is idempotent (placeholders never re-match) and a text
    with zero matches passes through byte-identical."""
    import re as _re

    from word_sense_disambiguation_spark.operators.webfilters import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    once = text
    for pat, tok in ((EMAIL_RE, "<EMAIL>"), (IPV4_RE, "<IP>"), (PHONE_RE, "<PHONE>")):
        once = _re.sub(pat, tok, once)
    twice = once
    for pat, tok in ((EMAIL_RE, "<EMAIL>"), (IPV4_RE, "<IP>"), (PHONE_RE, "<PHONE>")):
        twice = _re.sub(pat, tok, twice)
    assert twice == once
    if not any(_re.search(p, text) for p in (EMAIL_RE, IPV4_RE, PHONE_RE)):
        assert once == text


# --- B-cubed scaled-DIV algebra (mirrors operators/evaluation.py:
# b_cubed_metrics; the Spark==mirror identity is pinned on a fixture in
# test_pipeline_e2e.test_b_cubed_hand_example) ---

_S = 1_000_000_000


def _b3_mirror(labels):
    """The operator's integer arithmetic, verbatim: contingency cells ->
    c*((c*S) DIV n) sums -> one division per metric."""
    from collections import Counter

    cells = Counter(labels)
    np_ = Counter()
    ng_ = Counter()
    for (p, g), c in cells.items():
        np_[p] += c
        ng_[g] += c
    n = sum(cells.values())
    p_num = sum((c * _S // np_[p]) * c for (p, g), c in cells.items())
    r_num = sum((c * _S // ng_[g]) * c for (p, g), c in cells.items())
    return n, p_num / (float(n) * float(_S)), r_num / (float(n) * float(_S))


_label = st.integers(min_value=0, max_value=6)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_label, _label), min_size=1, max_size=60))
def test_bcubed_truncation_bound_property(labels):
    """Scaled-DIV truncation stays within 1/scale per record of the
    exact rational B-cubed, and both metrics live in (0, 1]."""
    from fractions import Fraction
    from collections import Counter

    n, p, r = _b3_mirror(labels)
    cells = Counter(labels)
    np_ = Counter()
    ng_ = Counter()
    for (pp, gg), c in cells.items():
        np_[pp] += c
        ng_[gg] += c
    exact_p = sum(Fraction(c * c, np_[pp]) for (pp, gg), c in cells.items()) / n
    exact_r = sum(Fraction(c * c, ng_[gg]) for (pp, gg), c in cells.items()) / n
    assert 0.0 < p <= 1.0 and 0.0 < r <= 1.0
    assert abs(p - float(exact_p)) < 1.0 / _S
    assert abs(r - float(exact_r)) < 1.0 / _S


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_label, _label), min_size=1, max_size=60))
def test_bcubed_refinement_extremes_property(labels):
    """Axiomatic extremes, EXACT (no truncation when c == n): a
    prediction that refines gold (pred key = (gold, extra)) has
    precision exactly 1.0; a prediction gold refines (gold key =
    (pred, extra)) has recall exactly 1.0; identity labeling is
    exactly (1.0, 1.0)."""
    refined = [((g, p), g) for p, g in labels]
    assert _b3_mirror(refined)[1] == 1.0
    coarse = [(p, (p, g)) for p, g in labels]
    assert _b3_mirror(coarse)[2] == 1.0
    ident = [(g, g) for _, g in labels]
    n, p, r = _b3_mirror(ident)
    assert p == 1.0 == r


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=1_000_000),
    st.integers(min_value=1, max_value=1_000_000),
)
def test_rrf_scaled_div_is_order_isomorphic(r1, r2):
    """The rrf_fuse docstring's exactness claim: at scale 10^12 / k=60,
    the integer contribution scale//(k+r) is STRICTLY decreasing in the
    rank for every rank up to 10^6 — so scaled-DIV RRF ranks exactly as
    float RRF does on any candidate list that deep."""
    S, K = 10**12, 60
    if r1 < r2:
        assert S // (K + r1) > S // (K + r2)
    elif r1 > r2:
        assert S // (K + r1) < S // (K + r2)
    else:
        assert S // (K + r1) == S // (K + r2)


@settings(max_examples=150, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=25),
    st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=100),
    st.permutations(list(range(61))),
)
def test_prefix_filter_completeness_lemma(x, y, tq, order):
    """The lemma prefix_filter_pairs stands on, against arbitrary global
    orders: if 100*|x∩y| >= tq*|x∪y| then the rarity-order prefixes of
    integer length |s| - ceil(tq*|s|/100) + 1 INTERSECT. (The operator
    uses one specific global order; the lemma must hold for any.)"""
    inter = len(x & y)
    union = len(x | y)
    if inter * 100 < tq * union:
        return  # pair below threshold: lemma says nothing
    rank = {tok: i for i, tok in enumerate(order)}

    def prefix(s):
        n = len(s)
        plen = n - ((tq * n + 99) // 100) + 1
        return set(sorted(s, key=lambda t: rank[t])[:plen])

    assert prefix(x) & prefix(y), (sorted(x), sorted(y), tq)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=-10**12, max_value=10**12),
    st.integers(min_value=0, max_value=10**12),
)
def test_mad_cross_multiply_equals_float_hampel(dev, mad):
    """mad_outliers' integer test |dev|*1000 > 3500*mad is EXACTLY
    Hampel's |dev| > 3.5*MAD (3.5 is dyadic; 2|dev| > 7*mad is the
    common exact form) — no boundary drift anywhere in range."""
    assert (abs(dev) * 1000 > 3500 * mad) == (2 * abs(dev) > 7 * mad)
