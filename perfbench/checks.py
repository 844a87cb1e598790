"""Result checks against the generator's ground truth.

Each check is a pure function over plain Python values, so the tests can
plant a mismatch without a Spark session.  A check returns False (or counts
a failed op) on a wrong status, a wrong result or a missing field; the
caller counts an op that raised as failed too.
"""

from __future__ import annotations

from collections import Counter, defaultdict


def check_ingest(files_ids, index_rows, blob_rows) -> tuple[int, list[str]]:
    """Exactly-once ingest: every distinct message of the staged files is
    indexed exactly once, nothing else is indexed or stored, and each index
    row's (location_key, location_position) resolves to exactly one blob
    record whose record_id is the row's unique_id (a NULL position means a
    single-record blob).  A redelivery in a later micro-batch lands in that
    batch's blobs under a new location_key, so blob records of one message
    may repeat; only the one the index points at must be unique.

    `files_ids` lists the unique_ids of each staged file (redeliveries
    included); rows are (unique_id, location_key, location_position) and
    (location_key, position, record_id).  Returns the indexes of the files
    with a message that fails, and a description of every problem."""
    idx_count = Counter()
    loc = {}
    for uid, lk, pos in index_rows:
        idx_count[uid] += 1
        loc[uid] = (lk, pos)
    by_pos = defaultdict(list)
    by_key = defaultdict(list)
    stored = set()
    for lk, pos, rid in blob_rows:
        by_pos[(lk, pos)].append(rid)
        by_key[lk].append(rid)
        stored.add(rid)

    def ok(uid: str) -> bool:
        if idx_count[uid] != 1:
            return False
        lk, pos = loc[uid]
        recs = by_key[lk] if pos is None else by_pos[(lk, pos)]
        return recs == [uid]

    expected = set()
    failed = []
    problems = []
    for k, ids in enumerate(files_ids):
        expected.update(ids)
        bad = [u for u in ids if not ok(u)]
        if bad:
            failed.append(k)
            problems.append(f"file {k}: {len(bad)} messages not stored exactly once, e.g. {bad[0]}")
    extra = (set(idx_count) | stored) - expected
    if extra:
        problems.append(f"{len(extra)} rows for messages never sent, e.g. {sorted(extra)[0]}")
    return failed, problems


def _ids(rows) -> list:
    return [r.get("unique_id") for r in rows]


def check_serve(req: dict, status: int, body) -> bool:
    """One Indexer API reply against the request's expected answer."""
    if status != req["status"]:
        return False
    if status != 200:
        return True
    route = req["route"]
    if route == "exact":
        return body.get("unique_id") == req["id"] and all(
            body.get(k) == v for k, v in req["expect"].items()
        )
    if route == "all":
        return sorted(_ids(body)) == req["ids_out"]
    return (
        body.get("total_count") == req["total_count"]
        and body.get("returned_count") == len(req["ids_out"])
        and _ids(body.get("messages", [])) == req["ids_out"]
    )


def check_replay(req: dict, status: int, body, republished: dict, truth: dict) -> bool:
    """One Resubmitter API reply: status, published count, and the sampled
    records' republished payloads equal the generated ones.

    `republished` maps unique_id -> payload as written to the request's
    topic; `truth` maps unique_id -> generated payload."""
    if status != req["status"]:
        return False
    if (body.get("summary") or {}).get("published") != req["published"]:
        return False
    return all(u in truth and republished.get(u) == truth[u] for u in req["sample"])
