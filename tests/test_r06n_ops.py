"""r06n operator: banded hamming near-dup pairs on the perceptual
hash (group-collapsed — the exact-dup/near-dup split)."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.media import (
    PHASH_MAX_HAMMING,
    q_image_phash,
    q_phash_dup_pairs,
)

from .test_plans import SF_DIR


def _hamming(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def _bands(h):
    hi, lo = h
    return {
        (0, lo & 0xFFFF),
        (1, (lo >> 16) & 0xFFFF),
        (2, hi & 0xFFFF),
        (3, (hi >> 16) & 0xFFFF),
    }


def test_phash_pairs_literal_and_recall(spark):
    ph = q_image_phash(spark, SF_DIR).toPandas()
    groups: dict = {}
    for did, hi, lo in zip(ph["doc_id"], ph["phash_hi"], ph["phash_lo"]):
        k = (int(hi), int(lo))
        groups.setdefault(k, []).append(int(did))
    # literal blocking over DISTINCT hashes
    want = set()
    keys = list(groups)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            ra, rb = min(groups[ka]), min(groups[kb])
            if ra > rb:
                ka, kb, ra, rb = kb, ka, rb, ra
            if not (_bands(ka) & _bands(kb)):
                continue
            d = _hamming(ka, kb)
            if d <= PHASH_MAX_HAMMING:
                want.add((ra, rb, d, len(groups[ka]), len(groups[kb])))
    got = q_phash_dup_pairs(spark, SF_DIR).toPandas()
    got_set = set(
        map(
            tuple,
            got[["rep_a", "rep_b", "hamming", "n_a", "n_b"]]
            .astype("int64")
            .itertuples(index=False, name=None),
        )
    )
    assert got_set == want
    assert len(got_set) > 0
    # banding recall is STRUCTURALLY total for hamming <= 3 (4 bits
    # over 4 bands cannot all land in distinct bands)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            if _hamming(ka, kb) <= 3:
                assert _bands(ka) & _bands(kb), (ka, kb)
    # the group collapse keeps pair volume linear in distinct hashes:
    # far fewer group pairs than raw doc pairs (was 77,588 pre-split)
    assert len(got) < 1000
