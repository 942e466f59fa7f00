"""Deterministic synthetic web-page world (seed=42, no external data).

Produces the tables FIXTURES.md specifies:

* ``pages(url, warc_ts, html, text, lang)`` — Common-Crawl-style fact table
  (BASELINE.json ``input_hint``); html is :func:`wrap_html` of text so the
  byte-identical extraction invariant is testable.
* ``senses(sense_id, lemma, pos, source_definition, alternative_definition,
  examples, sense_rank)`` — the sense/entity inventory in the shape of the
  reference's generated JSON records (``/root/reference/training/README.md:21-35``).
* ``gold_pairs`` — labeled (mention-in-context, gold sense) rows, the F1
  fixture (shape of ``WordNetExample``, ``/root/reference/wsd/benchmark.py:16-24``).
* ``dup_groups`` — planted near-duplicate page groups for dedup/clustering.

Self-consistency principle (same as the reference, whose benchmark gold and
candidate senses both come from WordNet): every sense owns a *topic* — a
disjoint bag of context words. Gold sentences for a sense contain several of
its topic words; glosses are built from the same topic words; so gloss
overlap + context cosine separate senses by construction, and pairwise F1
>= 0.99 is achievable by a correct pipeline (and only by a correct one).
NOTA sentences draw from a reserved topic owned by no sense: a correct
pipeline must *reject* every candidate (the reference's none-of-the-above
slot, ``/root/reference/wsd/prompt.py:92-94,107-108``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pandas as pd

from word_sense_disambiguation_spark.functions.text import (
    SPACY_TO_WORDNET_POS,
    lemma_of,
    mark_word_in_sentence,
    pos_tag,
    tokenize,
    wrap_html,
)

SEED = 42

# ---------------------------------------------------------------------------
# Vocabulary: disjoint topic clusters + ambiguous lemmas + neutral fillers.
# ---------------------------------------------------------------------------

TOPICS: dict[str, list[str]] = {
    "finance": "money deposit loan account interest cash credit teller vault mortgage currency savings".split(),
    "river": "water shore current stream flood mud fishing erosion tide wetland sediment levee".split(),
    "music": "guitar melody chord rhythm tune concert amplifier singer drum tempo harmony stage".split(),
    "fish": "angler lake trout bait tackle hook reel catch pond scales fin gill".split(),
    "aviation": "runway pilot cockpit altitude takeoff landing hangar jet wing fuselage radar turbulence".split(),
    "baseball": "pitcher inning homerun outfield dugout umpire glove fastball shortstop bullpen batter mound".split(),
    "computing": "server database compiler kernel keyboard software network protocol cache processor thread buffer".split(),
    "botany": "leaf root blossom stem pollen garden seedling soil orchard petal bark sap".split(),
    "medicine": "patient surgeon diagnosis clinic dosage symptom vaccine therapy ward prescription anatomy pulse".split(),
    "law": "court judge verdict statute plaintiff attorney evidence appeal jury contract tort clause".split(),
    "cooking": "oven recipe flour butter simmer seasoning skillet dough whisk broth garnish spice".split(),
    "astronomy": "telescope orbit galaxy nebula eclipse comet asteroid lunar solar constellation meteor observatory".split(),
    "geology": "granite fossil magma quarry mineral bedrock tectonic basalt stratum quartz canyon ridge".split(),
    "textile": "fabric weave loom thimble cotton seam stitch yarn quilt hem tailor wool".split(),
    "maritime": "harbor anchor sail mast cargo deck voyage lighthouse buoy keel rudder port".split(),
    "military": "battalion fortress artillery siege regiment armor trench barracks cavalry ammunition recon convoy".split(),
}

# Reserved topic no sense ever owns — NOTA contexts draw from it.
NOTA_TOPIC = "weather thunder drizzle hail frost breeze overcast humidity monsoon sleet fog gale".split()

# Ambiguous target lemmas (the inventory keys). Disjoint from topic words,
# fillers, and function words.
AMBIGUOUS_LEMMAS = (
    "bass bank spring pitch bolt match crane seal club date fair plant row "
    "bat ring scale note bar palm mole pupil litter racket staff tie yard "
    "mint organ jam fence dash file pool train coach stock press charge board "
    "draft felt"
).split()

FILLERS = "afternoon village neighbor visitor moment journey holiday corner window doorway season festival".split()

# ---------------------------------------------------------------------------
# Entity KB: multi-token named entities for the span-linking path (T14).
# Names use invented tokens (disjoint from topics/lemmas/fillers) so a gold
# span can never collide with an ordinary mention — the same disjointness
# the sense topics rely on. Mirrors the reference's Entity fields
# (``/root/reference/wsd/word_sense_disambiguation.py:45-52``; golden
# Wikidata fixture ``wsd/test_server.py:162-170``).
# ---------------------------------------------------------------------------

_ENTITY_KB: list[tuple[str, list[str], str]] = [
    ("Zorvex Industries", ["Zorvex"], "computing"),
    ("Quillon Harbor Authority", ["Quillon Harbor"], "maritime"),
    ("Mirelle Vance", [], "law"),
    ("Ostrander Valley Observatory", ["Ostrander Observatory"], "astronomy"),
    ("Tessingly Flour Works", ["Tessingly"], "cooking"),
    ("Branwick Field Hospital", ["Branwick Hospital"], "medicine"),
]

_ENTITY_TEMPLATES = [
    "reporters visited {ent} during the {f0}",
    "{ent} announced a new effort last {f0}",
    "crowds gathered outside {ent} every {f0}",
]


def build_entity_kb(seed: int = SEED) -> pd.DataFrame:
    """The entity inventory: (entity_id, name, description, url, aliases)."""
    rows = []
    for idx, (name, aliases, topic) in enumerate(_ENTITY_KB):
        rng = random.Random(f"{seed}:kb:{name}")
        t = rng.sample(TOPICS[topic], 3)
        rows.append(
            {
                "entity_id": 100 + idx,
                "name": name,
                "description": f"{name} is known for {t[0]} {t[1]} and {t[2]}",
                "url": f"https://kb.example/Q{100 + idx}",
                "aliases": list(aliases),
            }
        )
    return pd.DataFrame(rows)


def _find_token_span(text: str, surface: str) -> tuple[int, int]:
    """First token-run in ``text`` whose lemmas equal ``surface``'s lemmas —
    the span the tokenizer-faithful linker will produce."""
    toks = [lemma_of(w) for w, _, _, _ in tokenize(text)]
    target = [lemma_of(w) for w, _, _, _ in tokenize(surface)]
    for s in range(len(toks) - len(target) + 1):
        if toks[s : s + len(target)] == target:
            return s, s + len(target) - 1
    raise ValueError(f"{surface!r} not found in page text")

_SENTENCE_TEMPLATES = [
    "the {lemma} near the {t0} was known for {t1} and {t2} during the {f0}",
    "every {f0} the {lemma} drew crowds when {t0} met {t1} beside the {t2}",
    "a {lemma} with {t0} and a {t1} stood by the {t2} all {f0}",
    "people spoke of the {lemma} and its {t0} while the {t1} and {t2} waited",
    "this {lemma} required {t0} before any {t1} could reach the {t2} that {f0}",
    "no {lemma} could manage the {t0} without {t1} or {t2} in that {f0}",
]

_LANGS = ["en", "en", "en", "en", "fr", "es", "de", "zh"]
_BASE_TS = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def _md5i(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def build_senses(seed: int = SEED) -> pd.DataFrame:
    """The sense inventory: 2-4 senses per ambiguous lemma, each owning a
    distinct topic; glosses are built from the topic's words. ``sense_rank``
    is frequency order (rank 0 = most common), mirroring the reference's
    order-preserving definition lists
    (``/root/reference/wsd/word_sense_disambiguation.py:131-139``)."""
    rows = []
    topic_names = sorted(TOPICS)
    for lemma in AMBIGUOUS_LEMMAS:
        rng = random.Random(f"{seed}:senses:{lemma}")
        n_senses = 2 + _md5i("nsenses:" + lemma) % 3
        topics = rng.sample(topic_names, n_senses)
        base_pos = SPACY_TO_WORDNET_POS[pos_tag(lemma)]
        for k, topic in enumerate(topics):
            words = TOPICS[topic]
            # adjective lemmas alternate a/s to exercise the a->{a,s}
            # expansion (reference ``...py:149-178``).
            pos = base_pos if base_pos != "a" or k % 2 == 0 else "s"
            # A permutation of the FULL topic vocabulary, split across the
            # two glosses: the sense profile (definition + alternative)
            # covers every topic word, so a gold context's topic words
            # always overlap the correct profile — the invariant the F1
            # >= 0.99 gate rests on.
            gw = rng.sample(words, len(words))
            half = len(gw) // 2
            sense_id = f"syn-{_md5i(f'{lemma}:{topic}'):010d}-{pos}"
            definition = (
                f"{lemma} as a matter of {' '.join(gw[:half])} in {topic}"
            )
            alt = f"any {lemma} involving {' '.join(gw[half:])} of {topic}"
            examples = [
                _gold_sentence(lemma, topic, f"{seed}:ex:{lemma}:{k}:{j}")
                for j in range(3)
            ]
            rows.append(
                {
                    "sense_id": sense_id,
                    "lemma": lemma,
                    "pos": pos,
                    "topic": topic,
                    "source_definition": definition,
                    "alternative_definition": alt,
                    "examples": examples,
                    "sense_rank": k,
                }
            )
    return pd.DataFrame(rows)


def _gold_sentence(lemma: str, topic: str, key: str) -> str:
    """One deterministic sentence using ``lemma`` in the ``topic`` sense:
    contains the lemma (markable with word boundaries) and 3 topic words."""
    rng = random.Random(key)
    words = TOPICS[topic] if topic != "__nota__" else NOTA_TOPIC
    t = rng.sample(words, 3)
    f = rng.choice(FILLERS)
    tmpl = rng.choice(_SENTENCE_TEMPLATES)
    return tmpl.format(lemma=lemma, t0=t[0], t1=t[1], t2=t[2], f0=f)


def _filler_sentence(key: str) -> str:
    rng = random.Random(key)
    f = rng.sample(FILLERS, 3)
    return f"the {f[0]} before the {f[1]} seemed like a quiet {f[2]} to everyone there"


def build_world(
    n_pages: int = 200,
    seed: int = SEED,
    nota_rate: float = 0.1,
    dup_rate: float = 0.12,
    entity_rate: float = 0.35,
) -> dict[str, pd.DataFrame]:
    """Build the full deterministic world.

    Returns dict with keys ``pages``, ``senses``, ``gold_pairs``,
    ``dup_groups``, ``entities``, ``gold_entities``. Each page has 2-5
    sentences; most contain one planted gold mention (a lemma used in one
    specific sense), ~``nota_rate`` are NOTA mentions, ~``dup_rate`` of
    pages are near-duplicates of an earlier page (one filler token changed)
    for the dedup/clustering gold, and ~``entity_rate`` of original pages
    carry one planted KB entity mention (sometimes via a shorter alias) for
    the span-linking gold. The entity sentence is inserted after the gold
    sentences but BEFORE the trailing filler (so near-dup copies, which
    perturb only the filler, inherit the span at identical token positions);
    near-duplicate pages therefore DO carry the source's entity span, and a
    ``gold_entities`` row is emitted for each — recomputed from the dup's
    own text to keep the gold honest.
    """
    senses = build_senses(seed)
    entity_kb = build_entity_kb(seed)
    entity_records = entity_kb.to_dict("records")
    by_lemma = {
        lemma: grp.sort_values("sense_rank").to_dict("records")
        for lemma, grp in senses.groupby("lemma")
    }
    lemmas = sorted(by_lemma)

    pages_rows: list[dict] = []
    gold_rows: list[dict] = []
    dup_rows: list[dict] = []
    gold_entity_rows: list[dict] = []
    pair_id = 0

    def _emit_page(i: int, sentences: list[str], golds: list[dict]) -> dict:
        nonlocal pair_id
        # sentence-final periods: the tokenizer scopes context windows to
        # sentences, so adjacent mentions' topic words never bleed into each
        # other's context.
        text = " ".join(s + "." for s in sentences)
        url = f"https://synthetic.example/{i // 1000:04d}/page-{i:07d}"
        rng = random.Random(f"{seed}:pagemeta:{i}")
        row = {
            "url": url,
            "warc_ts": _BASE_TS + dt.timedelta(seconds=i * 37),
            "html": wrap_html(text, title=f"page {i}"),
            "text": text,
            "lang": rng.choice(_LANGS),
        }
        for g in golds:
            g = dict(g)
            g["pair_id"] = pair_id
            g["url"] = url
            pair_id += 1
            gold_rows.append(g)
        return row

    i = 0
    base_pages: list[
        tuple[int, list[str], list[dict], tuple[dict, str] | None]
    ] = []
    while i < n_pages:
        rng = random.Random(f"{seed}:page:{i}")
        # near-duplicate of an earlier page?
        if base_pages and rng.random() < dup_rate:
            src_i, src_sents, _src_golds, src_ent = base_pages[
                rng.randrange(len(base_pages))
            ]
            sents = list(src_sents)
            # perturb a few words of the trailing filler sentence (keeps
            # gold sentences byte-identical so mentions still land, and
            # keeps shingle Jaccard high — a realistic near-duplicate).
            sents[-1] = src_sents[-1].replace(
                " to everyone there", " for most readers then"
            )
            row = _emit_page(i, sents, [])
            pages_rows.append(row)
            if src_ent is not None:
                # the dup inherits the source's entity span (the perturbed
                # filler comes after it, so positions are identical — but
                # recompute from the dup's own text to keep gold honest)
                ent, surface = src_ent
                s, e = _find_token_span(row["text"], surface)
                gold_entity_rows.append(
                    {
                        "url": row["url"],
                        "entity_id": ent["entity_id"],
                        "start_token": s,
                        "end_token": e,
                        "text": ent["name"],
                        "span_text": surface,
                    }
                )
            dup_rows.append(
                {
                    "url_a": pages_rows[src_i]["url"],
                    "url_b": pages_rows[i]["url"],
                    "group_id": f"dup-{src_i:07d}",
                }
            )
            i += 1
            continue

        n_mentions = 1 + rng.randrange(2)  # 1-2 gold mentions per page
        sents: list[str] = []
        golds: list[dict] = []
        used_lemmas: set[str] = set()
        for m in range(n_mentions):
            lemma = lemmas[_md5i(f"pick:{seed}:{i}:{m}") % len(lemmas)]
            if lemma in used_lemmas:
                continue
            used_lemmas.add(lemma)
            srecs = by_lemma[lemma]
            is_nota = rng.random() < nota_rate
            if is_nota:
                topic = "__nota__"
                gold_sense = None
            else:
                srec = srecs[_md5i(f"sense:{seed}:{i}:{m}") % len(srecs)]
                topic = srec["topic"]
                gold_sense = srec["sense_id"]
            sentence = _gold_sentence(lemma, topic, f"{seed}:gold:{i}:{m}")
            marked = mark_word_in_sentence(sentence, lemma)
            # blocking-key pos: what the tokenizer will assign this lemma
            wn_pos = SPACY_TO_WORDNET_POS[pos_tag(lemma)]
            sents.append(sentence)
            golds.append(
                {
                    "word_form": lemma,
                    "lemma": lemma,
                    "pos": wn_pos,
                    "sentence": sentence,
                    "marked_text": marked,
                    "gold_sense_id": gold_sense,
                    "is_nota": is_nota,
                }
            )
        # entity planting: inserted BEFORE the trailing filler sentence, so
        # near-dup copies (which perturb only the filler) inherit the span
        # at identical token positions and stay shingle-close to the source
        ent_rng = random.Random(f"{seed}:ent:{i}")
        planted_entity = None
        if entity_records and ent_rng.random() < entity_rate:
            ent = entity_records[ent_rng.randrange(len(entity_records))]
            surface = ent["name"]
            if ent["aliases"] and ent_rng.random() < 0.4:
                surface = ent["aliases"][ent_rng.randrange(len(ent["aliases"]))]
            sents.append(
                ent_rng.choice(_ENTITY_TEMPLATES).format(
                    ent=surface, f0=ent_rng.choice(FILLERS)
                )
            )
            planted_entity = (ent, surface)
        sents.append(_filler_sentence(f"{seed}:fill:{i}"))
        base_pages.append((i, sents, golds, planted_entity))
        row = _emit_page(i, sents, golds)
        pages_rows.append(row)
        if planted_entity is not None:
            ent, surface = planted_entity
            s, e = _find_token_span(row["text"], surface)
            gold_entity_rows.append(
                {
                    "url": row["url"],
                    "entity_id": ent["entity_id"],
                    "start_token": s,
                    "end_token": e,
                    "text": ent["name"],
                    "span_text": surface,
                }
            )
        i += 1

    pages = pd.DataFrame(pages_rows)
    gold_pairs = pd.DataFrame(gold_rows)
    dup_groups = pd.DataFrame(dup_rows, columns=["url_a", "url_b", "group_id"])
    gold_entities = pd.DataFrame(
        gold_entity_rows,
        columns=["url", "entity_id", "start_token", "end_token", "text", "span_text"],
    )
    return {
        "pages": pages,
        "senses": senses,
        "gold_pairs": gold_pairs,
        "dup_groups": dup_groups,
        "entities": entity_kb,
        "gold_entities": gold_entities,
    }


# Spark-side schemas (fixed, nominal — the reference declares schemas as
# dataclasses, never inferred; we do the same with DDL strings).
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
SENSES_SCHEMA = (
    "sense_id string, lemma string, pos string, topic string, "
    "source_definition string, alternative_definition string, "
    "examples array<string>, sense_rank int"
)
GOLD_SCHEMA = (
    "word_form string, lemma string, pos string, sentence string, "
    "marked_text string, gold_sense_id string, is_nota boolean, "
    "pair_id long, url string"
)
ENTITIES_SCHEMA = (
    "entity_id long, name string, description string, url string, "
    "aliases array<string>"
)
GOLD_ENTITIES_SCHEMA = (
    "url string, entity_id long, start_token int, end_token int, "
    "text string, span_text string"
)


def world_to_spark(spark, world: dict[str, pd.DataFrame]) -> dict:
    """Materialize the pandas world as Spark DataFrames (Arrow path)."""
    out = {
        "pages": spark.createDataFrame(world["pages"], schema=PAGES_SCHEMA),
        "senses": spark.createDataFrame(world["senses"], schema=SENSES_SCHEMA),
        "dup_groups": spark.createDataFrame(
            world["dup_groups"], schema="url_a string, url_b string, group_id string"
        ),
    }
    gp = world["gold_pairs"]
    if len(gp):
        out["gold_pairs"] = spark.createDataFrame(gp, schema=GOLD_SCHEMA)
    else:
        out["gold_pairs"] = spark.createDataFrame([], schema=GOLD_SCHEMA)
    out["entities"] = spark.createDataFrame(
        world["entities"], schema=ENTITIES_SCHEMA
    )
    ge = world["gold_entities"]
    if len(ge):
        out["gold_entities"] = spark.createDataFrame(ge, schema=GOLD_ENTITIES_SCHEMA)
    else:
        out["gold_entities"] = spark.createDataFrame([], schema=GOLD_ENTITIES_SCHEMA)
    # embeddings-style table for ANN operators uses the driver testdata.
    return out


def pages_for_scale(sf: float) -> int:
    """Page count for a TESTDATA-style scale factor (sf0.1 ≈ 20k pages)."""
    return max(64, int(sf * 200_000))


# ---------------------------------------------------------------------------
# Valid image-header fixtures: REAL PNG/JPEG byte layouts (the header parser
# in operators.multimodal must read dimensions back out of these), with
# deterministic sizes so the driver oracle can predict every field in SQL.
# ---------------------------------------------------------------------------


def synth_png(width: int, height: int, filler: int = 0) -> bytes:
    """A minimal VALID PNG prefix: 8-byte signature + a well-formed IHDR
    chunk (correct length, type, fields, and CRC), padded with ``filler``
    zero bytes. Total length = 33 + filler."""
    import zlib as _zlib

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # bit depth 8, truecolor, default methods
    )
    chunk = (
        (13).to_bytes(4, "big")
        + b"IHDR"
        + ihdr
        + _zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
    )
    return b"\x89PNG\r\n\x1a\n" + chunk + b"\x00" * filler


def synth_jpeg(width: int, height: int, filler: int = 0) -> bytes:
    """A minimal VALID JPEG: SOI + JFIF APP0 + SOF0 frame header (with the
    dimensions) + EOI, padded with ``filler`` zero bytes after EOI. Total
    length = 41 + filler (2 + 18 + 19 + 2 + filler)."""
    app0 = (
        b"\xff\xe0"
        + (16).to_bytes(2, "big")
        + b"JFIF\x00"
        # version(2) units(1) xdensity(2) ydensity(2) thumb(2) = 9 bytes;
        # with JFIF\0 (5) + the length field (2) that is exactly 16
        + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    )
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + bytes([8])  # precision
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])  # 3 components
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9" + b"\x00" * filler
