"""Seeded input generator for the graft production-path benchmark.

Writes only files: feed CSVs, the config files in the dialects the pipeline
reads (mapping CSV, transform spec, DQ rules, consume SQL, match spec), a
lookup directory, per-batch corpus parquet, and `expected.json` with the
answers the correctness checks compare against. The same seed and sizes always give byte-identical inputs.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. Work is fixed, not time-boxed, so two commits
# always run identical operations. The first `warmup_*` days or batches are
# the untimed warm-up; the rest are timed.
SIZES = {
    "daily_load": {
        "days": 4, "warmup_days": 1, "policy_rows": 2000, "claim_rows": 1000,
        "first_day_persons": 400, "new_persons": 40,
        "exact_redeliveries": 40, "fuzzy_variants": 30,
        "reload_day": 3, "reload_of": 2, "add_column_day": 4,
        "negative_share": 0.02, "bad_date_share": 0.01, "test_share": 0.01,
    },
    "dedup_gate": {
        "batches": 5, "docs_per_batch": 500, "dup_rate": 0.12,
        "warmup_batches": 1, "window": 8, "step": 4, "forget_docs": 2,
        "vocab": 6000, "zipf_s": 1.05, "doc_len": (30, 60),
    },
}

START = dt.date(2024, 3, 1)
SYL = ["ka", "lo", "mi", "ra", "ne", "to", "si", "va", "de", "lu", "ma",
       "ri", "no", "te", "sa", "bel", "cor", "dan", "el", "fin", "gar",
       "hal", "is", "jor", "ken", "lin", "mor", "nor", "os", "per"]
STATES = {"NY": "New York", "CA": "California", "TX": "Texas",
          "FL": "Florida", "IL": "Illinois", "PA": "Pennsylvania",
          "OH": "Ohio", "GA": "Georgia", "NC": "North Carolina",
          "MI": "Michigan"}


def _word(rng, lo, hi):
    return "".join(rng.choice(SYL) for _ in range(rng.randint(lo, hi)))


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


def _csv(path, header, rows):
    _write(path, ",".join(header) + "\n" +
           "".join(",".join(r) + "\n" for r in rows))


def _money(cents):
    sign = "-" if cents < 0 else ""
    return "%s%d.%02d" % (sign, abs(cents) // 100, abs(cents) % 100)


# --------------------------------------------------------------- daily_load

def gen_daily_load(seed, out, z):
    rng = random.Random(seed)
    cfg = os.path.join(out, "config")
    _write(os.path.join(cfg, "lookup", "states.json"), json.dumps(STATES))
    _write(os.path.join(cfg, "policy_mapping.csv"),
           "SourceName,DestName\nPolicyNumber,policy_number\n"
           "CustomerNo,customer_no\nEffectiveDate,effective_date\n"
           "ExpirationDate,expiration_date\nWrittenPremium,written_premium\n"
           "StateCode,state_code\nAgentEmail,agent_email\nChannel,channel\n"
           "Discount,discount\nLegacyCode,Null\n")
    _write(os.path.join(cfg, "policy_spec.json"), json.dumps({
        "input_spec": {"csv": {"header": True}, "allow_schema_change": "evolve"},
        "transform_spec": {
            "filename": [{"field": "valuation_date",
                          "pattern": "policy-(\\d{8})\\.csv", "required": True}],
            "date": [{"field": "effective_date", "format": "MM/dd/yyyy"},
                     {"field": "expiration_date", "format": "MM/dd/yyyy"}],
            "date:valuation": [{"field": "valuation_date", "format": "yyyyMMdd"}],
            "changetype": {"written_premium": "decimal(16,2)"},
            "lookup": [{"field": "state_code", "source": "state_code",
                        "lookup": "states", "nomatch": "Unknown"}],
            "hash": ["agent_email"],
            "earnedpremium": [{"field": "earned_premium",
                               "written_premium_list": ["written_premium"],
                               "policy_effective_date": "effective_date",
                               "policy_expiration_date": "expiration_date",
                               "period_start_date": "effective_date",
                               "period_end_date": "valuation_date",
                               "byday": True}],
            "filterrows": [{"condition": "channel <> 'TEST'"}],
        }}, indent=1))
    _write(os.path.join(cfg, "policy_dq.json"), json.dumps({
        "before_transform": {
            "quarantine_rules": ["ColumnValues 'written_premium' >= 0"],
            "halt_rules": ["IsComplete 'policy_number'"]},
        "after_transform": {
            "warn_rules": ["Completeness 'state_code' >= 0.9"],
            "quarantine_rules": ["IsComplete 'effective_date'"],
            "halt_rules": ["ColumnExists 'earned_premium'"]}}, indent=1))
    _write(os.path.join(cfg, "claim_mapping.csv"),
           "SourceName,DestName\nClaimNumber,claim_number\n"
           "PolicyNumber,policy_number\nLossDate,loss_date\n"
           "ClaimAmount,claim_amount\nStatus,status\n")
    _write(os.path.join(cfg, "claim_spec.json"), json.dumps({
        "input_spec": {"csv": {"header": True}, "allow_schema_change": "evolve"},
        "transform_spec": {
            "date": [{"field": "loss_date", "format": "yyyy-MM-dd"}],
            "changetype": {"claim_amount": "decimal(16,2)"}}}, indent=1))
    _write(os.path.join(cfg, "claim_dq.json"), json.dumps({
        "before_transform": {
            "quarantine_rules": ["ColumnValues 'claim_amount' >= 0"],
            "halt_rules": ["IsComplete 'claim_number'"]}}, indent=1))
    _write(os.path.join(cfg, "customer_mapping.csv"),
           "SourceName,DestName\nCustomerNo,customer_no\n"
           "SrcSystemId,src_system_id\nFirstName,first_name\n"
           "LastName,last_name\nDob,dob\nZip,zip\nPhone,phone\n"
           "Email,email\nLastUpdated,last_updated\n")
    _write(os.path.join(cfg, "customer_spec.json"), json.dumps({
        "input_spec": {"csv": {"header": True}, "allow_schema_change": "evolve"},
        "transform_spec": {
            "date": [{"field": "dob", "format": "yyyy-MM-dd"}]}}, indent=1))
    _write(os.path.join(cfg, "customer_dq.json"), json.dumps({
        "before_transform": {
            "quarantine_rules": ["ColumnValues 'zip' matches '[0-9]{5}'"],
            "halt_rules": ["IsComplete 'customer_no'"]}}, indent=1))
    _write(os.path.join(cfg, "consume.sql"),
           "SELECT p.policy_number, p.customer_no, p.state_code,\n"
           "       p.written_premium, p.earned_premium,\n"
           "       COALESCE(c.claim_count, 0) AS claim_count,\n"
           "       COALESCE(c.claim_total, 0) AS claim_total,\n"
           "       p.year, p.month, p.day\n"
           "FROM {db}.policy p\n"
           "LEFT JOIN (SELECT policy_number, count(*) AS claim_count,\n"
           "                  sum(claim_amount) AS claim_total\n"
           "           FROM {db}.claim\n"
           "           WHERE year = '{year}' AND month = '{month}' AND day = '{day}'\n"
           "           GROUP BY policy_number) c\n"
           "  ON p.policy_number = c.policy_number\n"
           "WHERE p.year = '{year}' AND p.month = '{month}' AND p.day = '{day}'\n")
    _write(os.path.join(cfg, "match_spec.json"), json.dumps({
        "primary_entity_table": "{db}_consume.entity_primary",
        "global_id_field": "globalid",
        "sort_field": "last_updated",
        "exact_match_fields": {"source_primary_key": "customer_no",
                               "source_system_key": "src_system_id"},
        "levels": [{"id": "1", "blocks": ["last_name[:1]", "zip"],
                    "fields": [
                        {"fieldname": "first_name", "type": "string",
                         "method": "jarowinkler", "threshold": 0.85,
                         "weight": 0.3},
                        {"fieldname": "last_name", "type": "string",
                         "method": "jarowinkler", "threshold": 0.85,
                         "weight": 0.3},
                        {"fieldname": "dob", "type": "exact", "weight": 0.4}],
                    "threshold": 0.99}]}, indent=1))

    firsts = sorted({_word(rng, 2, 3) for _ in range(400)})
    lasts = sorted({_word(rng, 2, 4) for _ in range(600)})
    zips = ["%05d" % rng.randint(10000, 99999) for _ in range(40)]
    dob_slots = list(range(20000))
    rng.shuffle(dob_slots)
    persons = []  # canonical records, index = person id

    def new_person():
        k = len(persons)
        first = rng.choice(firsts)
        while len(first) < 5:
            first = rng.choice(firsts)
        persons.append({
            "first": first.capitalize(), "last": rng.choice(lasts).capitalize(),
            "dob": (dt.date(1950, 1, 1) + dt.timedelta(days=dob_slots[k])).isoformat(),
            "zip": rng.choice(zips), "phone": "555%07d" % rng.randint(0, 9999999),
            "email": "p%d@example.com" % k, "day": None})
        return k

    def variant_first(name):
        last = name[-1]
        return name[:-1] + ("a" if last != "a" else "e")

    days = []
    per_date = {}
    quar = {"policy_before": 0, "policy_after": 0, "claim_before": 0}
    delivered = set()
    feed_rows = 0
    input_bytes = 0
    for d in range(1, z["days"] + 1):
        if d == z["reload_day"]:
            src = days[z["reload_of"] - 1]
            days.append(dict(src, kind="reload", day_index=d,
                             entities_after=len(delivered)))
            e = per_date[src["date"]]
            quar["policy_before"] += e["policy_negative"]
            quar["policy_after"] += e["policy_bad_date"]
            quar["claim_before"] += e["claim_negative"]
            feed_rows += src["rows"]
            input_bytes += src["bytes"]
            continue
        date = START + dt.timedelta(days=len(per_date))
        stamp = date.strftime("%Y%m%d")
        ddir = os.path.join(out, "feeds", "day%02d" % d)
        add_col = d >= z["add_column_day"]
        # customers: day 1 seeds; later days add new persons, re-deliver
        # existing ones under their own key, and send planted variants
        crow = []
        if d == 1:
            todays = [new_person() for _ in range(z["first_day_persons"])]
            for k in todays:
                crow.append(("C%06d" % k, "A01", persons[k]["first"], k))
        else:
            old = sorted(delivered)
            picks = rng.sample(old, z["exact_redeliveries"] + z["fuzzy_variants"])
            for k in picks[:z["exact_redeliveries"]]:
                crow.append(("C%06d" % k, "A01", persons[k]["first"], k))
            for k in picks[z["exact_redeliveries"]:]:
                crow.append(("V%06d-%02d" % (k, d), "B02",
                             variant_first(persons[k]["first"]), k))
            for _ in range(z["new_persons"]):
                k = new_person()
                crow.append(("C%06d" % k, "A01", persons[k]["first"], k))
        rng.shuffle(crow)
        cust_rows = []
        for key, sys_id, first, k in crow:
            p = persons[k]
            cust_rows.append([key, sys_id, first, p["last"], p["dob"], p["zip"],
                              p["phone"], p["email"],
                              "%s %02d:00:00" % (date.isoformat(), rng.randint(0, 23))])
            delivered.add(k)
        # policies: exactly one defect class per defective row
        pol_rows, pol_numbers = [], []
        neg = bad = test = clean = 0
        clean_cents = 0
        clean_policies = set()
        cust_pool = sorted(delivered)
        for i in range(z["policy_rows"]):
            pn = "P%s%06d" % (stamp, i)
            eff = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randint(0, 364))
            exp = eff + dt.timedelta(days=365)
            cents = rng.randint(20000, 500000)
            r = rng.random()
            channel = rng.choice(["AGENT", "DIRECT", "WEB"])
            effs = eff.strftime("%m/%d/%Y")
            if r < z["negative_share"]:
                cents, kind = -cents, "neg"
            elif r < z["negative_share"] + z["test_share"]:
                channel, kind = "TEST", "test"
            elif r < z["negative_share"] + z["test_share"] + z["bad_date_share"]:
                effs, kind = "13/45/2023", "bad"
            else:
                kind = "clean"
            row = [pn, "C%06d" % rng.choice(cust_pool), effs,
                   exp.strftime("%m/%d/%Y"), _money(cents),
                   rng.choice(list(STATES) + ["ZZ"]),
                   "agent%d@example.com" % rng.randint(1, 300), channel,
                   "L%d" % rng.randint(1, 9)]
            if add_col:
                row.append("0.%02d" % rng.randint(0, 20))
            pol_rows.append(row)
            pol_numbers.append(pn)
            if kind == "neg":
                neg += 1
            elif kind == "test":
                test += 1
            elif kind == "bad":
                bad += 1
            else:
                clean += 1
                clean_cents += cents
                clean_policies.add(pn)
        header = ["PolicyNumber", "CustomerNo", "EffectiveDate", "ExpirationDate",
                  "WrittenPremium", "StateCode", "AgentEmail", "Channel", "LegacyCode"]
        if add_col:
            header.append("Discount")
        _csv(os.path.join(ddir, "policy-%s.csv" % stamp), header, pol_rows)
        # claims against today's policies
        cl_rows = []
        cneg = cclean = 0
        cl_cents = 0
        consume_claims = {}
        for i in range(z["claim_rows"]):
            pn = rng.choice(pol_numbers)
            cents = rng.randint(1000, 200000)
            if rng.random() < z["negative_share"]:
                cents = -cents
                cneg += 1
            else:
                cclean += 1
                cl_cents += cents
                if pn in clean_policies:
                    consume_claims[pn] = consume_claims.get(pn, 0) + cents
            loss = date - dt.timedelta(days=rng.randint(0, 90))
            cl_rows.append(["CL%s%06d" % (stamp, i), pn, loss.isoformat(),
                            _money(cents), rng.choice(["OPEN", "CLOSED"])])
        _csv(os.path.join(ddir, "claim-%s.csv" % stamp),
             ["ClaimNumber", "PolicyNumber", "LossDate", "ClaimAmount", "Status"],
             cl_rows)
        _csv(os.path.join(ddir, "customer-%s.csv" % stamp),
             ["CustomerNo", "SrcSystemId", "FirstName", "LastName", "Dob", "Zip",
              "Phone", "Email", "LastUpdated"], cust_rows)
        files = {f: os.path.join(ddir, "%s-%s.csv" % (f, stamp))
                 for f in ("policy", "claim", "customer")}
        nbytes = sum(os.path.getsize(p) for p in files.values())
        rows = len(pol_rows) + len(cl_rows) + len(cust_rows)
        entry = {"date": date.isoformat(), "files": files, "kind": "new",
                 "day_index": d, "add_column": add_col, "rows": rows,
                 "bytes": nbytes, "entities_after": len(delivered)}
        if d == z["add_column_day"]:
            entry["kind"] = "add_column"
        days.append(entry)
        per_date[date.isoformat()] = {
            "policy_clean": clean, "policy_negative": neg, "policy_test": test,
            "policy_bad_date": bad, "policy_premium_cents": clean_cents,
            "claim_clean": cclean, "claim_negative": cneg,
            "claim_amount_cents": cl_cents, "customer_rows": len(cust_rows),
            "consume_rows": clean, "consume_claim_cents": sum(consume_claims.values()),
            "entities_after": len(delivered)}
        quar["policy_before"] += neg
        quar["policy_after"] += bad
        quar["claim_before"] += cneg
        feed_rows += rows
        input_bytes += nbytes
    expected = {
        "days": days, "per_date": per_date, "quarantine": quar,
        "policy_clean": sum(e["policy_clean"] for e in per_date.values()),
        "policy_premium_cents": sum(e["policy_premium_cents"] for e in per_date.values()),
        "claim_clean": sum(e["claim_clean"] for e in per_date.values()),
        "claim_amount_cents": sum(e["claim_amount_cents"] for e in per_date.values()),
        "entities": len(delivered), "feed_rows": feed_rows,
        "input_bytes": input_bytes, "warmup_days": z["warmup_days"]}
    props = {
        "rows_per_feed_day": {"policy": z["policy_rows"], "claim": z["claim_rows"],
                              "customer_first_day": z["first_day_persons"],
                              "customer_later_days": z["new_persons"] +
                              z["exact_redeliveries"] + z["fuzzy_variants"]},
        "dq_violation_share": z["negative_share"] + z["bad_date_share"],
        "entity_variant_share": z["fuzzy_variants"] /
        (z["new_persons"] + z["exact_redeliveries"] + z["fuzzy_variants"])}
    return expected, props


# --------------------------------------------------------------- dedup_gate

def _zipf_cdf(n, s):
    w = [1.0 / (r ** s) for r in range(1, n + 1)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


def gen_dedup_gate(seed, out, z):
    import bisect
    rng = random.Random(seed)
    vocab = sorted({_word(rng, 2, 4) for _ in range(z["vocab"] * 2)})[:z["vocab"]]
    rng.shuffle(vocab)
    cdf = _zipf_cdf(len(vocab), z["zipf_s"])

    def draw():
        return vocab[min(bisect.bisect_left(cdf, rng.random()), len(vocab) - 1)]

    def jacc(a, b):
        return len(a & b) / len(a | b)

    # Batch i draws every doc from blocks [i*step, i*step + window): half of
    # its blocks were seen in the batch before, none in any older batch, so
    # the gate's index can prune every stored file older than one batch.
    step, width = z["step"], z["window"]
    blocks = ["b%03d" % i for i in range(step * (z["batches"] - 1) + width)]
    by_block = {b: [] for b in blocks}        # kept docs' token sets per block
    kept_in_block = {b: [] for b in blocks}   # (doc_id, text) of live kept docs
    batch_kept = []                           # kept doc ids per batch
    blk_of = {}
    next_id = 1
    expected_kept, expected_dups = [], []
    files, total_docs, input_bytes = [], 0, 0
    max_near = 0.0
    forgotten = set()

    def forget(bi):
        """Kept, not yet forgotten docs of one batch; no later dup is planted
        against a forgotten doc (the gate could not match it)."""
        ids = rng.sample([d for d in batch_kept[bi] if d not in forgotten], z["forget_docs"])
        for doc in ids:
            forgotten.add(doc)
            pool = kept_in_block[blk_of[doc]]
            pool[:] = [p for p in pool if p[0] != doc]
        return sorted(ids)

    # the shard reads ask for blocks only the first batch drew
    warm_blk, timed_blk = rng.sample(blocks[:step], 2)
    maintenance = {}
    for bi in range(z["batches"]):
        window = blocks[bi * step:bi * step + width]
        ids, blks, texts = [], [], []
        for _ in range(z["docs_per_batch"]):
            blk = rng.choice(window)
            doc_id = next_id
            next_id += 1
            pool = kept_in_block[blk]
            if pool and rng.random() < z["dup_rate"]:
                # near-duplicate of a kept doc: one token replaced
                orig = rng.choice(pool)
                toks = orig[1].split(" ")
                toks[rng.randrange(len(toks))] = draw()
                text = " ".join(toks)
                expected_dups.append(doc_id)
            else:
                while True:
                    n = rng.randint(*z["doc_len"])
                    toks = [draw() for _ in range(n)]
                    s = set(toks)
                    near = max((jacc(s, o) for o in by_block[blk]), default=0.0)
                    if near < 0.5:
                        break
                max_near = max(max_near, near)
                text = " ".join(toks)
                by_block[blk].append(s)
                pool.append((doc_id, text))
                expected_kept.append(doc_id)
            blk_of[doc_id] = blk
            ids.append(doc_id)
            blks.append(blk)
            texts.append(text)
        path = os.path.join(out, "corpus", "batch-%03d.parquet" % bi)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "blk": pa.array(blks, pa.string()),
                                 "text": pa.array(texts, pa.string())}), path)
        os.utime(path, (1700000000 + bi, 1700000000 + bi))
        kept_set = set(expected_kept)
        batch_kept.append([i for i in ids if i in kept_set])
        files.append({"path": path, "ids": len(ids), "kept": batch_kept[-1],
                      "blocks": window})
        total_docs += len(ids)
        input_bytes += os.path.getsize(path)
        if bi == z["warmup_batches"] - 1:
            # the warm-up's maintenance step, after its batches
            maintenance["warmup"] = {"read_blk": warm_blk,
                                     "forget": forget(rng.randrange(bi + 1))}
    # the timed maintenance step, after the last batch: the read runs
    # before the forget request
    read_ids = sorted(d for d in expected_kept
                      if blk_of[d] == timed_blk and d not in forgotten)
    maintenance["timed"] = {
        "read_blk": timed_blk, "read_ids": read_ids,
        "forget": forget(rng.randrange(z["batches"]))}
    expected = {"files": files, "docs": total_docs,
                "kept": [d for d in expected_kept if d not in forgotten],
                "dups": expected_dups, "input_bytes": input_bytes,
                "threshold": 0.8, "max_distinct_jaccard": round(max_near, 4),
                "warmup_batches": z["warmup_batches"],
                **maintenance}
    props = {"duplicate_rate": z["dup_rate"], "docs_per_batch": z["docs_per_batch"],
             "batches": z["batches"], "block_window": width, "block_step": step,
             "forget_docs_per_request": z["forget_docs"]}
    return expected, props


GENERATORS = {"daily_load": gen_daily_load, "dedup_gate": gen_dedup_gate}


def generate(workload, seed, out):
    expected, props = GENERATORS[workload](seed, out, SIZES[workload])
    expected["workload"] = workload
    expected["seed"] = seed
    expected["input_properties"] = props
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    e = generate(w, s, o)
    print(json.dumps(e["input_properties"]))
