"""Expected answers from the engine's naive oracle (``OracleIndex``).

``answers`` runs in a separate, lowest-priority process (``send_answers``)
started after input staging; it ends during the Spark session start, so
the pure-Python oracle neither lengthens a run by its own duration nor
takes CPU from the timed builds. It reads the same staged Parquet files the engine indexes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DEPTH = 20  # two pages of maxHits=10


def answers(config_kwargs: dict, groups: list, queries: list) -> dict:
    """``groups``: ``[(parquet path, num_splits)]``, one per build call (the
    bootstrap build, or one ``add_documents`` batch each). ``queries``:
    ``[(query, window)]`` with ``window`` None or ``(start s, end s)``, end
    exclusive.

    Returns ``{(query, window): (hits, num_hits)}``; ``hits`` holds the best
    ``DEPTH`` hits of each group as ``(float32 score, group, split, doc_id,
    key)``, where ``split`` counts from the group's first split. The engine
    assigns the split ids, so ranking across groups is left to the caller."""
    from quickwit_spark.oracle import OracleIndex
    from quickwit_spark.plans.config import webpages_config

    config = webpages_config(**config_kwargs)
    oracles = [
        OracleIndex(pq.read_table(path).to_pylist(), config, n) for path, n in groups
    ]
    out = {}
    for query, window in queries:
        s = e = None
        if window is not None:
            s, e = (np.datetime64(x, "s") for x in window)
        hits, count = [], 0
        for g, oracle in enumerate(oracles):
            found = oracle.search(query, k=1 << 40, start_ts=s, end_ts=e)
            count += len(found)
            hits += [
                (score, g, sid, doc, oracle.doc_key(sid, doc))
                for sid, doc, score in found[:DEPTH]
            ]
        out[(query, window)] = (hits, count)
    return out


def send_answers(conn, config_kwargs: dict, groups: list, queries: list) -> None:
    """Process entry point: ``answers`` sent through the pipe ``conn``."""
    os.nice(19)
    try:
        conn.send(answers(config_kwargs, groups, queries))
    finally:
        conn.close()
