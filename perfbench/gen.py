"""Seeded genomic data generator for the API workloads.

Writes a LAPIS-SILO style data directory (database_config.yaml,
reference_genomes.json, a lineage definition, input.ndjson), fresh-key
append batches, the SaneQL request mix, and an expected-answer sidecar
computed here while generating -- API answers are checked against this
sidecar, never against the engine itself.

The same seed gives the same bytes (see test_bench.py).
"""

import datetime
import hashlib
import json
import os
import random
import re
from decimal import ROUND_HALF_UP, Decimal

GENOME_LEN = 1000          # see NOTES.md: 4,000 nt does not fit the run budget
GENE = "E"
GENE_LEN = 120
NUC = "ACGT"
AA = "ACDEFGHIKLMNPQRSTVWY"
INSERTION_SHARE = 0.05

# lineage -> (parent, weight); three roots, no recombinants. No tree
# holds more than 43% of the rows, so no signature is a majority and the
# engine never re-bases storage onto a local reference. A tree near half
# the rows would leave that to private substitutions at tied signature
# positions, so it would differ by seed, and an adapted reference makes
# mutations() ~1.7x slower (see NOTES.md).
LINEAGES = {
    "A": (None, 10), "A.1": ("A", 15), "A.1.1": ("A.1", 4), "A.1.2": ("A.1", 4),
    "A.2": ("A", 6), "B": (None, 10), "B.1": ("B", 14), "B.1.1": ("B.1", 9),
    "B.1.1.1": ("B.1.1", 3), "B.1.2": ("B.1", 7), "B.2": ("B", 8),
    "C": (None, 30),
}
REGIONS = {
    "Europe": ["Switzerland", "Germany", "France"],
    "Americas": ["USA", "Brazil", "Canada"],
    "Asia": ["Japan", "India", "Vietnam"],
    "Africa": ["Kenya", "Ghana", "Egypt"],
}
COUNTRIES = [c for reg in sorted(REGIONS) for c in REGIONS[reg]]
REGION_OF = {c: reg for reg in REGIONS for c in REGIONS[reg]}
EXPORT_FIELDS = ["primaryKey", "date", "region", "country", "age", "qc_value",
                 "pango_lineage"]
DATE0 = datetime.date(2021, 1, 1)

CONFIG_YAML = """schema:
  instanceName: perfbench
  opennessLevel: OPEN
  metadata:
    - name: primaryKey
      type: string
    - name: date
      type: date
    - name: region
      type: string
      generateIndex: true
    - name: country
      type: string
      generateIndex: true
    - name: age
      type: int
    - name: qc_value
      type: float
    - name: pango_lineage
      type: string
      generateIndex: true
      generateLineageIndex: lineage_definitions.yaml
  primaryKey: primaryKey
"""


class Model:
    """The random world one seed describes: references, lineage
    signatures, insertion alleles; rows are drawn from it on demand."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        r = self.rng
        self.ref = "".join(r.choice(NUC) for _ in range(GENOME_LEN))
        self.gene_ref = "".join(r.choice(AA) for _ in range(GENE_LEN))
        self.sig = {}       # lineage -> {pos: sym} (1-based positions)
        self.aa_sig = {}
        used, aa_used = set(), set()
        for name, (parent, _) in LINEAGES.items():
            nuc = dict(self.sig[parent]) if parent else {}
            aa = dict(self.aa_sig[parent]) if parent else {}
            for _ in range(3):
                pos = r.randrange(200, GENOME_LEN - 200)
                while pos in used:
                    pos = r.randrange(200, GENOME_LEN - 200)
                used.add(pos)
                nuc[pos] = r.choice([c for c in NUC if c != self.ref[pos - 1]])
            apos = r.randrange(1, GENE_LEN + 1)
            while apos in aa_used:
                apos = r.randrange(1, GENE_LEN + 1)
            aa_used.add(apos)
            aa[apos] = r.choice([c for c in AA if c != self.gene_ref[apos - 1]])
            self.sig[name], self.aa_sig[name] = nuc, aa
        self.insertions = []
        for _ in range(6):
            pos = r.randrange(100, GENOME_LEN - 100)
            self.insertions.append(
                (pos, "".join(r.choice(NUC) for _ in range(r.randrange(4, 9)))))
        self.names = list(LINEAGES)
        self.weights = [LINEAGES[n][1] for n in self.names]

    def rows(self, keys):
        """One row per key. Lineages and countries are dealt from exact
        quotas in a seeded order, so every seed filters the same number of
        rows into each class's subsets (a `mutations` request over 8 rows
        or 25 rows would otherwise differ by seed, not by program)."""
        lineages = quota(self.names, self.weights, len(keys), self.rng)
        countries = quota(COUNTRIES, [1] * len(COUNTRIES), len(keys), self.rng)
        return [self.row(k, lin, c) for k, lin, c in zip(keys, lineages, countries)]

    def row(self, key, lineage, country):
        r = self.rng
        seq = list(self.ref)
        for pos, sym in self.sig[lineage].items():
            seq[pos - 1] = sym
        for _ in range(r.randrange(0, 5)):      # private substitutions
            pos = r.randrange(1, GENOME_LEN + 1)
            seq[pos - 1] = r.choice([c for c in NUC if c != self.ref[pos - 1]])
        if r.random() < 0.5:                    # N-masked coverage ends
            for i in range(r.randrange(1, 80)):
                seq[i] = "N"
        if r.random() < 0.5:
            for i in range(r.randrange(1, 80)):
                seq[GENOME_LEN - 1 - i] = "N"
        aa = list(self.gene_ref)
        for pos, sym in self.aa_sig[lineage].items():
            aa[pos - 1] = sym
        ins = []
        if r.random() < INSERTION_SHARE:
            pos, val = r.choice(self.insertions)
            ins.append(f"{pos}:{val}")
        return {
            "primaryKey": key,
            "date": (DATE0 + datetime.timedelta(days=r.randrange(365))).isoformat(),
            "region": REGION_OF[country],
            "country": country,
            "age": r.randrange(0, 90),
            "qc_value": round(r.random(), 2),
            "pango_lineage": lineage,
            "main": {"sequence": "".join(seq), "insertions": ins},
            GENE: {"sequence": "".join(aa), "insertions": []},
        }


def quota(values, weights, n, rng):
    """n values, each as often as its share of the weights gives
    (largest remainder, ties to the earlier value), in a seeded order."""
    total = sum(weights)
    exact = [w * n / total for w in weights]
    counts = [int(e) for e in exact]
    by_rest = sorted(range(len(values)), key=lambda i: (counts[i] - exact[i], i))
    for i in by_rest[:n - sum(counts)]:
        counts[i] += 1
    out = [v for v, c in zip(values, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def sublineages(name):
    out = {name}
    grew = True
    while grew:
        grew = False
        for n, (p, _) in LINEAGES.items():
            if p in out and n not in out:
                out.add(n)
                grew = True
    return out


def lineage_yaml():
    lines = []
    for n, (p, _) in LINEAGES.items():
        lines.append(f"{n}:" + (" {}" if p is None else f"\n  parents:\n  - {p}"))
    return "\n".join(lines) + "\n"


# ---- the request mix ------------------------------------------------------
# Each request: id, class, SaneQL text, accept ("ndjson"|"arrow"), and a
# spec the expected answer is computed from.

def request_mix(model, rng, base):
    reqs = []

    def add(cls, text, spec, accept="ndjson"):
        reqs.append({"id": f"{cls}-{len(reqs)}", "class": cls, "text": text,
                     "accept": accept, "spec": spec})

    # meta: metadata, lineage and date filters with a groupBy
    for lin in ["A.1", "B.1", "B", "A"]:
        d = (DATE0 + datetime.timedelta(days=rng.randrange(60, 240))).isoformat()
        add("meta",
            f"default.filter(lineage(pango_lineage, '{lin}', includeSublineages := true)"
            f" && date >= '{d}'::date).groupBy({{count := count()}}, {{country}})",
            {"kind": "group", "lineage": lin, "date_from": d, "by": "country"})
    for region in sorted(REGIONS)[:2]:
        age = rng.randrange(20, 60)
        add("meta",
            f"default.filter(region = '{region}' && age >= {age})"
            f".groupBy({{count := count()}}, {{pango_lineage}})",
            {"kind": "group", "region": region, "age_from": age, "by": "pango_lineage"})
    for q in [0.3, 0.6]:
        add("meta",
            f"default.filter(qc_value >= {q}).groupBy({{count := count()}}, {{region}})",
            {"kind": "group", "qc_from": q, "by": "region"})

    # routed: selective position predicates (under the 10% index gate)
    # whose count the posting index answers; nucleotideEquals and
    # insertionContains alternate. (hasMutation passes the same gate but
    # then scans the table -- ~2 s against ~0.25 s, see NOTES.md -- and a
    # class mixing the two has no stable median.)
    seen = {}
    for r in base:
        for e in r["main"]["insertions"]:
            seen[e] = seen.get(e, 0) + 1
    top = sorted(model.insertions, key=lambda pv: -seen.get(f"{pv[0]}:{pv[1]}", 0))
    for lin, (ipos, ival) in zip(["A.1.1", "B.1.2"], top):
        pos = sorted(set(model.sig[lin]) - set(model.sig[LINEAGES[lin][0]]))[0]
        sym = model.sig[lin][pos]
        add("routed",
            f"default.filter(nucleotideEquals(position := {pos}, symbol := '{sym}',"
            f" sequenceName := 'main')).groupBy({{count := count()}})",
            {"kind": "count", "nuc_eq": [pos, sym]})
        # the value is a regex matched against the whole inserted string
        pattern = ival[:3] + ".*"
        add("routed",
            f"default.filter(insertionContains(position := {ipos}, value := '{pattern}',"
            f" sequenceName := 'main')).groupBy({{count := count()}})",
            {"kind": "count", "ins": [ipos, pattern]})

    # mutations over a lineage- or country-filtered subset
    add("mutations",
        "default.filter(lineage(pango_lineage, 'B.1', includeSublineages := true))"
        ".mutations(minProportion := 0.05, sequenceNames := {main})",
        {"kind": "mutations", "lineage": "B.1", "min": 0.05})
    add("mutations",
        "default.filter(country = 'Germany')"
        ".mutations(minProportion := 0.05, sequenceNames := {main})",
        {"kind": "mutations", "country": "Germany", "min": 0.05})

    # details: filter, orderBy, limit
    for country in ["USA", "Japan", "Kenya"]:
        add("details",
            f"default.filter(country = '{country}')"
            ".project({primaryKey, date, age, pango_lineage})"
            ".orderBy({desc(age), primaryKey}).limit(10)",
            {"kind": "details", "country": country, "limit": 10})

    # export: the full table, half NDJSON and half Arrow
    text = "default.project({" + ", ".join(EXPORT_FIELDS) + "})"
    add("export", text, {"kind": "export"}, accept="ndjson")
    add("export", text, {"kind": "export"}, accept="arrow")
    return reqs


def matches(spec, row):
    if "lineage" in spec and row["pango_lineage"] not in sublineages(spec["lineage"]):
        return False
    if "date_from" in spec and row["date"] < spec["date_from"]:
        return False
    if "region" in spec and row["region"] != spec["region"]:
        return False
    if "country" in spec and row["country"] != spec["country"]:
        return False
    if "age_from" in spec and row["age"] < spec["age_from"]:
        return False
    if "qc_from" in spec and row["qc_value"] < spec["qc_from"]:
        return False
    seq = row["main"]["sequence"]
    if "nuc_eq" in spec:
        pos, sym = spec["nuc_eq"]
        if seq[pos - 1] != sym:
            return False
    if "ins" in spec:
        pos, val = spec["ins"]
        if not any(e.split(":")[0] == str(pos) and re.fullmatch(val, e.split(":")[1])
                   for e in row["main"]["insertions"]):
            return False
    return True


def round4(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def canon(v):
    """One value in the checker's canonical form."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10]
    return str(v)


def row_key(row):
    return json.dumps({k: canon(v) for k, v in row.items()}, sort_keys=True)


def table_digest(rows):
    """(row count, order-insensitive checksum) of a list of row dicts."""
    h = hashlib.sha256()
    for k in sorted(row_key(r) for r in rows):
        h.update(k.encode())
        h.update(b"\n")
    return [len(rows), h.hexdigest()]


def answer(spec, rows, ref):
    """The expected answer: {"ordered": bool, "rows": [...]} or, for the
    full-table export, {"digest": [count, sha256]}."""
    kind = spec["kind"]
    sel = [r for r in rows if matches(spec, r)]
    if kind == "count":
        return {"ordered": False, "rows": [{"count": len(sel)}]}
    if kind == "group":
        by = spec["by"]
        counts = {}
        for r in sel:
            counts[r[by]] = counts.get(r[by], 0) + 1
        return {"ordered": False,
                "rows": [{by: k, "count": v} for k, v in sorted(counts.items())]}
    if kind == "details":
        sel.sort(key=lambda r: (-r["age"], r["primaryKey"]))
        return {"ordered": True, "rows": [
            {"primaryKey": r["primaryKey"], "date": r["date"], "age": r["age"],
             "pango_lineage": r["pango_lineage"]} for r in sel[:spec["limit"]]]}
    if kind == "export":
        return {"digest": table_digest(
            [{f: r[f] for f in EXPORT_FIELDS} for r in rows])}
    if kind == "mutations":
        cover = [0] * (GENOME_LEN + 1)
        count = {}
        for r in sel:
            for i, c in enumerate(r["main"]["sequence"]):
                if c != "N":
                    cover[i + 1] += 1
                    if c != ref[i]:
                        count[(i + 1, c)] = count.get((i + 1, c), 0) + 1
        out = []
        for (pos, sym), n in sorted(count.items()):
            p = round4(n / cover[pos])
            if p >= spec["min"]:
                out.append({"mutationFrom": ref[pos - 1], "mutationTo": sym,
                            "position": pos, "sequenceName": "main",
                            "proportion": p, "coverage": cover[pos], "count": n})
        return {"ordered": False, "rows": out}
    raise ValueError(kind)


def write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def generate(seed, out, rows, batches, batch_rows):
    """Write the data directory `out/data`, the append batches
    `out/batches/batch-<k>.ndjson`, `out/requests.json` and
    `out/expected.json` (answers per request per data version: version 0
    is the base input, version k follows batch k)."""
    model = Model(seed)
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    with open(os.path.join(data, "database_config.yaml"), "w") as f:
        f.write(CONFIG_YAML)
    with open(os.path.join(data, "lineage_definitions.yaml"), "w") as f:
        f.write(lineage_yaml())
    with open(os.path.join(data, "reference_genomes.json"), "w") as f:
        json.dump({"nucleotideSequences": [{"name": "main", "sequence": model.ref}],
                   "genes": [{"name": GENE, "sequence": model.gene_ref}]}, f)
    base = model.rows([f"s{seed}-{i:06d}" for i in range(rows)])
    write_ndjson(os.path.join(data, "input.ndjson"), base)
    extra = []
    for b in range(batches):
        batch = model.rows([f"s{seed}-b{b:03d}-{j:04d}" for j in range(batch_rows)])
        write_ndjson(os.path.join(out, "batches", f"batch-{b:03d}.ndjson"), batch)
        extra.append(batch)
    reqs = request_mix(model, random.Random(seed * 7919 + 1), base)
    expected = {}
    version_rows = list(base)
    for v in range(batches + 1):
        if v:
            version_rows += extra[v - 1]
        for q in reqs:
            expected.setdefault(q["id"], []).append(answer(q["spec"], version_rows, model.ref))
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump([{k: q[k] for k in ("id", "class", "text", "accept")} for q in reqs],
                  f, indent=1)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
