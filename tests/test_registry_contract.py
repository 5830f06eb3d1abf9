"""The registry contract, pinned: query names, the ``load_all()`` order
(whose first 50 entries the driver certifies) and every oracle SQL string
hash to one committed digest. A refactor that moves, renames or reorders
queries must leave this digest unchanged; a deliberate change to the
registry regenerates it in the same commit."""

from __future__ import annotations

import hashlib
import json

#: sha256 of json.dumps([[name, oracle_sql_or_None], ...]) in load_all() order
_REGISTRY_DIGEST = "80653c3877b98c2cfc65588f87dd1c457b1a55f4dd7bf01a88347ffff4d869f9"


def test_registry_digest_is_pinned():
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    pairs = [[name, q.oracle] for name, q in load_all().items()]
    digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()
    assert digest == _REGISTRY_DIGEST, (
        "query names, load_all() order or oracle SQL changed"
    )


def test_entry_queries_follow_load_all_order():
    import __spark_entry__
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    assert list(__spark_entry__.queries()) == list(load_all())
