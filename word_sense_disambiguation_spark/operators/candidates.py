"""Stage-1 blocking: mention -> candidate senses via broadcast equi-join.

Re-expresses the reference's batched definition lookup
(``/root/reference/wsd/word_sense_disambiguation.py:93-178``): the REST
batch endpoint becomes a **broadcast hash join** against the sense inventory
on the blocking key ``(lemma, pos)`` — no shuffle of the (huge) mention side,
the inventory dimension ships to every executor once. The adjective
expansion (``pos='a'`` also matching satellite ``'s'`` senses,
``...py:159-178``) is folded into the join key on the *small* side
(``join_pos``) instead of exploding the big side: satellite senses simply
advertise the key adjectives look up.

Missing inventory entries degrade to empty candidate sets (left join), the
same contract as the reference's failure path (``...py:114-127``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.text import FUNCTION_WORDS, WS_CLASS

def prepare_senses(senses: DataFrame) -> DataFrame:
    """Derive join key + gloss profile tokens on the inventory dimension.

    ``profile_words`` = distinct non-function tokens of both glosses minus
    the lemma itself — the Lesk signature of the sense. Built entirely from
    JVM-side functions (split/array_except/filter): stays in whole-stage
    codegen, and it runs once per inventory row, not per mention.
    """
    words = F.split(
        F.lower(F.concat_ws(" ", "source_definition", "alternative_definition")),
        WS_CLASS + "+",
    )
    func_words = F.split(F.lit(" ".join(sorted(FUNCTION_WORDS))), " ")
    profile = F.array_except(F.array_distinct(words), func_words)
    profile = F.filter(profile, lambda w: (w != F.col("lemma")) & (w != F.lit("")))
    # a NULL sense_id is not a sense: dropping the row here gives the
    # columnar and the prompted path one answer for it (no_definitions)
    return senses.filter(F.col("sense_id").isNotNull()).select(
        F.col("lemma").alias("s_lemma"),
        F.when(F.col("pos") == "s", F.lit("a"))
        .otherwise(F.col("pos"))
        .alias("join_pos"),
        "sense_id",
        # the displayed gloss carries both inventory definitions — the
        # same token set as profile_words, so the prompt path and the
        # columnar Lesk path see identical evidence
        F.concat_ws(" — ", "source_definition", "alternative_definition").alias(
            "sense_definition"
        ),
        "sense_rank",
        profile.alias("profile_words"),
    )


def candidates_for_mentions(mentions: DataFrame, senses: DataFrame) -> DataFrame:
    """Left broadcast join: every mention keeps its full candidate set;
    mentions outside the inventory keep one all-null candidate row (the
    NO_DEFINITIONS_FOUND short-circuit input, reference ``...py:250-257``)."""
    dim = prepare_senses(senses)
    return mentions.join(
        F.broadcast(dim),
        (mentions["lemma"] == dim["s_lemma"]) & (mentions["pos"] == dim["join_pos"]),
        "left",
    ).drop("s_lemma", "join_pos")
