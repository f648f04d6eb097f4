"""Output checks. Each takes the facts the benchmark JVM recorded and the
inputs this side generated, and returns {op id: reason} for every op
whose output is wrong. An op that threw or timed out fails as well."""
import hashlib
import json


def dead_by_md5(urls):
    """URLs the synthetic fetcher fails on every attempt: md5 starts "00"."""
    return sum(hashlib.md5(u.encode()).hexdigest().startswith("00") for u in urls)


def thrown(ops):
    return {o["id"]: o["error"] or "failed" for o in ops if not o["ok"]}


def check_pipeline(ops, passes, url_lists, batch_size):
    bad = thrown(ops)
    by_id = {o["id"]: o for o in ops}
    for p in passes:
        # the processor slices the list in url order (Sources.slice)
        urls = sorted(url_lists[p["urls_file"]])
        pass_ops = [by_id[i] for i in p["op_ids"]]
        produced = 0
        for o in pass_ops:
            f = o["facts"]
            if o["kind"] == "canary":
                if f.get("accepted") is not True:
                    bad.setdefault(o["id"], "canary not accepted")
            elif o["kind"] == "batch":
                start, n = f["start_index"], f["consumed"]
                want = min(batch_size, len(urls) - start)
                dead = dead_by_md5(urls[start:start + n])
                if n != want:
                    bad.setdefault(o["id"], f"consumed {n} urls, want {want}")
                elif f["dead"] != dead or f["produced"] != n - dead:
                    bad.setdefault(o["id"], f"dead {f['dead']} produced "
                                   f"{f['produced']}, want dead {dead}")
                produced += f["produced"]
        agg = pass_ops[-1]
        consumed = sum(o["facts"].get("consumed", 0) for o in pass_ops
                       if o["kind"] == "batch")
        try:
            total = json.loads(agg["facts"].get("statistics_json") or "{}").get(
                "total_records")
        except ValueError:
            total = None
        if consumed != len(urls):
            bad.setdefault(agg["id"], f"records+dead {consumed} != urls {len(urls)}")
        elif not (total == agg["facts"].get("shard_rows") == produced):
            bad.setdefault(agg["id"], f"statistics.json total_records {total}, "
                           f"shard rows {agg['facts'].get('shard_rows')}, "
                           f"produced {produced}")
    return bad


def check_queries(ops, digests):
    """Every query op, prime and timed, against the recorded row count and
    digest."""
    bad = thrown(ops)
    for o in ops:
        if o["id"] in bad:
            continue
        want = digests.get(o["name"])
        if want is None:
            bad[o["id"]] = "no recorded digest"
        elif o["facts"]["rows"] != want["rows"]:
            bad[o["id"]] = f"rows {o['facts']['rows']} != {want['rows']}"
        elif o["facts"]["digest"] != want["digest"]:
            bad[o["id"]] = "digest differs"
    return bad


def check_ingest(file_ops, facts, kinds, total_rows):
    """Every file op fails when the corpus is wrong after the stream."""
    bad = thrown(file_ops)
    present = set(facts["present_input_ids"])
    appended = facts["corpus_rows"] - facts["corpus_before"]
    rejected = total_rows - len(present)
    problems = []
    if facts.get("stream_error"):
        problems.append(f"stream failed: {facts['stream_error']}")
    if facts["corpus_rows"] != facts["corpus_distinct_ids"]:
        problems.append("a doc_id appears twice in the corpus")
    if facts["rows_in"] != total_rows:
        problems.append(f"rows in {facts['rows_in']} != {total_rows} offered")
    if appended + rejected != facts["rows_in"]:
        problems.append(f"appended {appended} + rejected {rejected} != "
                        f"rows in {facts['rows_in']}")
    if present & set(kinds["verbatim"]):
        problems.append("a verbatim duplicate was appended")
    if not set(kinds["fresh"]) <= present:
        problems.append("a fresh doc was rejected")
    for o in file_ops:
        if problems:
            bad.setdefault(o["id"], "; ".join(problems))
    return bad
