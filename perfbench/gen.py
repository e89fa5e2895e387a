"""Seeded, deterministic inputs for the p6spark benchmark.

Three generators, each a pure function of (seed, size):

* ``ontology``   -- an HPO-shaped obographs JSON: a multi-parent is_a DAG
  under HP:0000001 with the Phenotypic abnormality branch (HP:0000118)
  holding most terms, a few sibling branches, and ~1% obsolete terms
  carrying IAO:0100001 replacements.
* ``clinical``   -- a directory of xlsx workbooks with the five sheet
  kinds the CLI maps (Variants, HPO, Diseases, Measurements, Biosamples),
  plus a manifest of the counts known by construction: patients, records
  per kind and issues per level and step.
* ``registry``   -- the parquet tables the P6 registry entries read
  (part, documents, orders, events, supplier, customer).

Nothing here is timed. The same seed gives byte-identical files: zip
entries carry a fixed date, JSON is written with sorted keys, and all
randomness comes from one ``random.Random(seed)`` per generator.
"""

import json
import os
import random
import zipfile

OBO = "http://purl.obolibrary.org/obo"
ROOT = "HP:0000001"
ABNORMALITY = "HP:0000118"
# Sibling top-level branches: terms under them are "not under HP:0000118".
OTHER_BRANCHES = ["HP:0000005", "HP:0012823", "HP:0040279", "HP:0031797"]
# Planted unknown terms are drawn from this range; generated ids stay below it.
UNKNOWN_BASE = 9000000
ZIP_DATE = (2020, 1, 1, 0, 0, 0)

WORDS = ["abnormal", "morphology", "increased", "decreased", "aplasia",
         "hypoplasia", "dystrophy", "atrophy", "cyst", "lesion", "tone",
         "reflex", "density", "curvature", "length", "size", "shape",
         "function", "position", "pigmentation"]
ORGANS = ["eye", "ear", "heart", "kidney", "liver", "skin", "nail", "bone",
          "muscle", "brain", "lung", "spine", "hand", "foot", "face", "tooth"]


def curie_iri(curie):
    return OBO + "/" + curie.replace(":", "_")


def hp(n):
    return "HP:%07d" % n


# ---------------------------------------------------------------- ontology

class Onto:
    """The generated DAG, kept in memory so planted issues can be counted."""

    def __init__(self, terms, parents, labels, obsolete):
        self.terms = terms            # live term ids, creation order
        self.parents = parents        # id -> [parent ids]
        self.labels = labels          # id -> label
        self.obsolete = obsolete      # obsolete id -> replacement id
        self._anc = {}
        children = {}
        for t, ps in parents.items():
            for p in ps:
                children.setdefault(p, []).append(t)
        self.children = children

    def ancestors(self, t):
        """Strict ancestors of ``t`` over is_a (empty for unknown/obsolete)."""
        if t in self._anc:
            return self._anc[t]
        out = set()
        for p in self.parents.get(t, ()):
            out.add(p)
            out |= self.ancestors(p)
        self._anc[t] = frozenset(out)
        return self._anc[t]

    def under_abnormality(self, t):
        return ABNORMALITY in self.ancestors(t)

    def closure_pairs(self):
        return sum(len(self.ancestors(t)) for t in self.parents)


def make_ontology(seed, n_terms):
    """An HPO-shaped DAG of ``n_terms`` live terms (roots included)."""
    rng = random.Random(seed * 7919 + 1)
    ids = list(range(2, UNKNOWN_BASE // 100))
    reserved = {int(x[3:]) for x in [ROOT, ABNORMALITY] + OTHER_BRANCHES}
    ids = [i for i in ids if i not in reserved]
    rng.shuffle(ids)
    next_id = iter(ids)

    parents = {ROOT: []}
    labels = {ROOT: "All", ABNORMALITY: "Phenotypic abnormality"}
    parents[ABNORMALITY] = [ROOT]
    level = {ROOT: 0, ABNORMALITY: 1}
    for b in OTHER_BRANCHES:
        parents[b] = [ROOT]
        labels[b] = "Branch %s" % b
        level[b] = 1
    terms = [ROOT, ABNORMALITY] + OTHER_BRANCHES
    by_branch = {b: [b] for b in [ABNORMALITY] + OTHER_BRANCHES}

    n_other = max(len(OTHER_BRANCHES), n_terms // 20)
    n_new = n_terms - len(terms)
    for k in range(n_new):
        b = ABNORMALITY if k >= n_other else OTHER_BRANCHES[k % len(OTHER_BRANCHES)]
        pool = by_branch[b]
        # Mild bias towards recent (deeper) parents: at 18k terms this
        # gives HPO's shape, max depth ~15, ~10 ancestors per term and
        # just over half the terms leaves.
        j = len(pool) - 1 - int(len(pool) * rng.random() ** 0.5)
        p1 = pool[j]
        ps = [p1]
        if rng.random() < 0.3 and len(pool) > 2:
            p2 = pool[rng.randrange(len(pool))]
            if p2 != p1 and level[p2] <= level[p1]:
                ps.append(p2)
        t = hp(next(next_id))
        parents[t] = ps
        level[t] = 1 + max(level[p] for p in ps)
        labels[t] = "%s %s of %s %d" % (
            WORDS[rng.randrange(len(WORDS))].capitalize(),
            WORDS[rng.randrange(len(WORDS))], ORGANS[rng.randrange(len(ORGANS))], k)
        terms.append(t)
        pool.append(t)

    obsolete = {}
    live_abn = by_branch[ABNORMALITY][1:]
    for k in range(max(1, n_terms // 100)):
        t = hp(next(next_id))
        obsolete[t] = live_abn[rng.randrange(len(live_abn))]
        labels[t] = "obsolete term %d" % k
    return Onto(terms, parents, labels, obsolete)


def write_obographs(onto, path):
    nodes = []
    for t in onto.terms:
        nodes.append({"id": curie_iri(t), "lbl": onto.labels[t], "type": "CLASS"})
    for t, repl in onto.obsolete.items():
        nodes.append({"id": curie_iri(t), "lbl": onto.labels[t], "type": "CLASS",
                      "meta": {"deprecated": True, "basicPropertyValues": [
                          {"pred": curie_iri("IAO:0100001"), "val": curie_iri(repl)}]}})
    edges = [{"sub": curie_iri(t), "pred": "is_a", "obj": curie_iri(p)}
             for t in onto.terms for p in onto.parents[t]]
    doc = {"graphs": [{"id": OBO + "/hp.json", "nodes": nodes, "edges": edges}]}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------- xlsx

def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _is_numeric(v):
    body = v[1:] if v.startswith("-") else v
    whole, _, frac = body.partition(".")
    return whole.isdigit() and (frac == "" or frac.isdigit()) and not body.endswith(".")


def _cell(v):
    if v == "":
        return "<c/>"
    if _is_numeric(v):
        return "<c><v>%s</v></c>" % v
    return '<c t="inlineStr"><is><t>%s</t></is></c>' % _esc(v)


def write_xlsx(path, sheets):
    """Minimal OOXML workbook (same shape as graft.sources.WorkbookFixtures)."""
    def entry(z, name, text):
        info = zipfile.ZipInfo(name, ZIP_DATE)
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, text.encode("utf-8"))

    with zipfile.ZipFile(path, "w") as z:
        entry(z, "xl/workbook.xml", '<?xml version="1.0"?><workbook><sheets>' + "".join(
            '<sheet name="%s" sheetId="%d" r:id="rId%d"/>' % (_esc(n), i + 1, i + 1)
            for i, (n, _) in enumerate(sheets)) + "</sheets></workbook>")
        entry(z, "xl/_rels/workbook.xml.rels", '<?xml version="1.0"?><Relationships>' + "".join(
            '<Relationship Id="rId%d" Target="worksheets/sheet%d.xml"/>' % (i + 1, i + 1)
            for i in range(len(sheets))) + "</Relationships>")
        for i, (_, rows) in enumerate(sheets):
            body = "".join("<row>" + "".join(_cell(v) for v in r) + "</row>" for r in rows)
            entry(z, "xl/worksheets/sheet%d.xml" % (i + 1),
                  '<?xml version="1.0"?><worksheet><sheetData>%s</sheetData></worksheet>' % body)


# ---------------------------------------------------------------- clinical

GENO_HEADER = ["Patient ID", "Contact Email", "Phasing", "Chrom", "Start Position (bp)",
               "End Position (bp)", "Ref", "Alt", "Gene", "HGVSg", "HGVSc", "HGVSp",
               "Zygosity", "Inheritance"]
PHENO_HEADER = ["Patient ID", "HPO: Term", "Timestamp", "Status"]
DISEASE_HEADER = ["patient_ID", "disease_term", "disease_label", "disease_onset",
                  "disease_status"]
MEAS_HEADER = ["patient_ID", "measurement_type", "measurement_value", "measurement_unit",
               "measurement_timestamp"]
BIO_HEADER = ["patient_ID", "biosample_id", "biosample_type", "collection_date"]

# Per phenotype row, the planted term kinds and their rates. "label" is a
# clean id under a label that disagrees with the ontology's: the CLI's
# phenotype records do not carry the cell label, so it raises no issue.
PLANT_KINDS = ["unknown", "obsolete", "label", "not_abnormality", "ancestor", "nad"]

SHAPES = {
    # a few large workbooks with planted term and value problems
    "clinical_validation_heavy": dict(files=4, patients_per_file=50, pheno_rows=(18, 22),
                                      rates={"unknown": 0.03, "obsolete": 0.02,
                                             "label": 0.03, "not_abnormality": 0.02,
                                             "ancestor": 0.02, "nad": 0.01},
                                      bad_measurement=0.05, ontology_terms=18000),
}


def make_clinical(seed, workload, out_dir):
    """Write ``hp.json`` and ``corpus/*.xlsx`` under ``out_dir``; return the manifest."""
    shape = SHAPES[workload]
    onto = make_ontology(seed, shape["ontology_terms"])
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    write_obographs(onto, os.path.join(out_dir, "hp.json"))

    rng = random.Random(seed * 104729 + len(workload))
    abn = [t for t in onto.terms if onto.under_abnormality(t)]
    leaves = [t for t in abn if t not in onto.children]
    internal = [t for t in abn if t in onto.children]
    other = [t for t in onto.terms[2:] if not onto.under_abnormality(t) and t != ROOT
             and t not in OTHER_BRANCHES]
    obsolete_ids = sorted(onto.obsolete)

    counts = {"patients": 0, "genotypes": 0, "phenotypes": 0, "diseases": 0,
              "measurements": 0, "biosamples": 0}
    planted = {k: 0 for k in PLANT_KINDS}
    planted["bad_measurement"] = 0
    annotated = set()          # distinct HPO ids that become phenotype records
    obsolete_rows = unknown_rows = nad_rows = 0
    bases = "ACGT"
    pid = 0
    for f in range(shape["files"]):
        geno, pheno, dis, meas, bio = ([GENO_HEADER], [PHENO_HEADER], [DISEASE_HEADER],
                                       [MEAS_HEADER], [BIO_HEADER])
        for _ in range(shape["patients_per_file"]):
            pid += 1
            p = "P%07d" % pid
            chrom = rng.randrange(1, 23)
            pos = rng.randrange(10000, 90000000)
            ref = bases[rng.randrange(4)]
            alt = bases[(bases.index(ref) + 1 + rng.randrange(3)) % 4]
            geno.append([p, "user%d@example.org" % pid, str(rng.randrange(2)), "chr%d" % chrom,
                         str(pos), str(pos), ref, alt, "GENE%d" % rng.randrange(1, 900),
                         "chr%d:g.%d%s>%s" % (chrom, pos, ref, alt),
                         "NM_%06d.1:c.%d%s>%s" % (rng.randrange(1, 99999), rng.randrange(1, 5000), ref, alt),
                         "NP_%06d.1:p.(Lys%dGlu)" % (rng.randrange(1, 99999), rng.randrange(1, 900)),
                         ["het", "hom", "hemi"][rng.randrange(3)],
                         ["inherited", "denovo", "unknown"][rng.randrange(3)]])
            counts["genotypes"] += 1
            lo, hi = shape["pheno_rows"]
            for _ in range(rng.randint(lo, hi)):
                kind = "clean"
                x = rng.random()
                for k in PLANT_KINDS:
                    r = shape["rates"].get(k, 0.0)
                    if x < r:
                        kind = k
                        break
                    x -= r
                date = str(20000101 + rng.randrange(20) * 10000 + rng.randrange(1, 13) * 100 + rng.randrange(1, 29))
                status = str(rng.randrange(2))
                if kind == "nad":
                    pheno.append([p, "NAD", date, status])
                    nad_rows += 1
                    planted["nad"] += 1
                    continue
                if kind == "unknown":
                    t = hp(UNKNOWN_BASE + rng.randrange(900000))
                    unknown_rows += 1
                elif kind == "obsolete":
                    t = obsolete_ids[rng.randrange(len(obsolete_ids))]
                    obsolete_rows += 1
                elif kind == "not_abnormality":
                    t = other[rng.randrange(len(other))]
                elif kind == "ancestor":
                    t = internal[rng.randrange(len(internal))]
                else:
                    t = leaves[rng.randrange(len(leaves))]
                if kind != "clean":
                    planted[kind] += 1
                label = "Mislabelled finding" if kind == "label" else onto.labels.get(t, "Unknown")
                digits = int(t[3:])
                # vary the cell shapes the parser accepts
                cell = ["%s (HP:%07d)" % (label, digits), "HP:%07d" % digits,
                        "%s (HP:%d)" % (label, digits)][rng.randrange(3)]
                if kind == "label":
                    cell = "%s (HP:%07d)" % (label, digits)
                pheno.append([p, cell, date, status])
                annotated.add(t)
                counts["phenotypes"] += 1
            dis.append([p, "OMIM:%06d" % rng.randrange(100000, 999999),
                        "Disease %d" % rng.randrange(1, 5000), str(rng.randrange(0, 60)),
                        ["true", "false"][rng.randrange(2)]])
            counts["diseases"] += 1
            if rng.random() < shape["bad_measurement"]:
                value = ["n/a", "<5", "high"][rng.randrange(3)]
                planted["bad_measurement"] += 1
            else:
                value = "%d.%d" % (rng.randrange(1, 300), rng.randrange(10))
                counts["measurements"] += 1
            meas.append([p, ["LOINC:2345-7", "LOINC:718-7", "LOINC:2160-0"][rng.randrange(3)],
                         value, ["mg/dL", "g/dL", "mmol/L"][rng.randrange(3)],
                         str(20100101 + rng.randrange(10) * 10000)])
            bio.append([p, "BS%07d" % pid, ["blood", "saliva", "tissue"][rng.randrange(3)],
                        str(20150101 + rng.randrange(5) * 10000)])
            counts["biosamples"] += 1
            counts["patients"] += 1
        write_xlsx(os.path.join(out_dir, "corpus", "wb%04d.xlsx" % f),
                   [("Variants", geno), ("HPO", pheno), ("Diseases", dis),
                    ("Measurements", meas), ("Biosamples", bio)])

    # Issues the pipeline must report, by level and step, from the
    # planted rows and the ontology (known by construction).
    in_onto = {t for t in annotated if t in onto.parents or t in onto.obsolete}
    obsolete_used = {t for t in annotated if t in onto.obsolete}
    not_abn = {t for t in in_onto if t != ABNORMALITY and not onto.under_abnormality(t)}
    ancestors_used = set()
    for t in annotated:
        ancestors_used |= onto.ancestors(t) & annotated
    steps = {
        ("warning", "ontology-check"): unknown_rows + obsolete_rows,
        ("warning", "parse-phenotype-row"): nad_rows,
        ("error", "batch-validate"): len(not_abn) + len(ancestors_used),
        ("error", "parse-measurement-row"): planted["bad_measurement"],
    }
    issues = {"error": 0, "warning": 0}
    for (level, _), n in steps.items():
        issues[level] += n
    return {
        "workload": workload, "seed": seed, "shape": {k: v for k, v in shape.items()},
        "files": shape["files"], "counts": counts, "planted": planted,
        "issues": issues,
        "issues_by_step": {"%s/%s" % k: v for k, v in sorted(steps.items())},
        "ontology": {"terms": len(onto.terms), "obsolete": len(onto.obsolete),
                     "closure_pairs": onto.closure_pairs()},
    }


# ---------------------------------------------------------------- registry

REGISTRY_ROWS = dict(part=2000, documents=5000, orders=15000, events=10000,
                     supplier=100, customer=1500)


def make_registry(seed, out_dir):
    """Parquet tables for the P6 registry entries, TPC-H-like in shape."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = REGISTRY_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"),
                       compression="snappy")

    def pick(words, size):
        return [words[i] for i in rng.integers(0, len(words), size)]

    epoch = np.datetime64("1992-01-01T00:00:00", "us")
    k = np.arange(1, n["part"] + 1, dtype=np.int64)
    write("part", {
        "p_partkey": k,
        "p_name": pa.array(["%s %s" % (a, b) for a, b in zip(pick(WORDS, len(k)), pick(ORGANS, len(k)))]),
        "p_brand": pa.array(["Brand#%d%d" % (a, b) for a, b in
                             zip(rng.integers(1, 6, len(k)), rng.integers(1, 6, len(k)))]),
        "p_type": pa.array(pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], len(k))),
        "p_size": pa.array(rng.integers(1, 51, len(k)).astype(np.int32)),
        "p_retailprice": np.round(900 + rng.random(len(k)) * 1100, 2)})
    d = np.arange(1, n["documents"] + 1, dtype=np.int64)
    texts = [" ".join(pick(WORDS + ORGANS, int(m))) for m in rng.integers(8, 60, len(d))]
    write("documents", {
        "doc_id": d, "text": pa.array(texts),
        "lang": pa.array(pick(["en", "de", "fr", "es"], len(d))),
        "source": pa.array(pick(["web", "books", "code", "news"], len(d))),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    o = np.arange(1, n["orders"] + 1, dtype=np.int64)
    write("orders", {
        "o_orderkey": o, "o_custkey": rng.integers(1, n["customer"] + 1, len(o)).astype(np.int64),
        "o_orderstatus": pa.array(pick(["O", "F", "P"], len(o))),
        "o_totalprice": np.round(rng.random(len(o)) * 400000, 2),
        "o_orderdate": pa.array(epoch + rng.integers(0, 2400, len(o)).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(o)))})
    e = np.arange(1, n["events"] + 1, dtype=np.int64)
    ts = epoch + np.sort(rng.integers(0, 86400 * 30, len(e))).astype("timedelta64[s]")
    write("events", {
        "event_id": e, "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(1, 500, len(e)).astype(np.int64),
        "event_type": pa.array(pick(["view", "click", "purchase", "search"], len(e))),
        "value": np.round(rng.random(len(e)) * 100, 3),
        "props": pa.array(['{"k":%d}' % v for v in rng.integers(0, 100, len(e))])})
    s = np.arange(1, n["supplier"] + 1, dtype=np.int64)
    write("supplier", {
        "s_suppkey": s, "s_name": pa.array(["Supplier#%09d" % v for v in s]),
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)).astype(np.int32)),
        "s_acctbal": np.round(rng.random(len(s)) * 10000 - 1000, 2)})
    c = np.arange(1, n["customer"] + 1, dtype=np.int64)
    write("customer", {
        "c_custkey": c, "c_name": pa.array(["Customer#%09d" % v for v in c]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)).astype(np.int32)),
        "c_acctbal": np.round(rng.random(len(c)) * 10000 - 1000, 2),
        "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], len(c)))})
    return {"workload": "registry", "seed": seed, "rows": n}
