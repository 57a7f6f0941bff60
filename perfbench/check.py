"""Output checks for the benchmark.

Pipelines: an independent recomputation, in plain Python from the generated
world, of what RunPipeline must write: the key set of both sinks, every
association's harmonic scores (neighbourhood ∪ self propagation, per-source
top-100 harmonic fold, literature x0.2), every hypothesis's new-drug set and
AE-containment scores. Plus order-independent digests of both sinks.

Query mix: an order-independent digest of each query's result, in the same
canonical form as tools/check_oracle.py (columns by name, floats to six
significant digits, rows sorted), compared with digests pinned once.
"""
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq

TOP_K = 100
THRESHOLD = 0.1


def read_jsonl(path):
    rows = []
    for p in sorted(glob.glob(path)):
        with open(p, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def harmonic_fold(desc):
    acc = 0.0
    for i, s in enumerate(desc, 1):
        acc = acc + s / float(i * i)
    return acc


def containment(a, b):
    """1 - |a minus b| / |a|, null (None) for an empty or missing a."""
    if a is None or b is None or len(a) == 0:
        return None
    return 1.0 - float(len(set(a) - set(b))) / float(len(a))


# --------------------------------------------------------------------------
# pipeline recomputation


def network(world):
    """target -> sorted neighbour list, after the tissue co-activity filter;
    targets with no surviving neighbour have no entry (and lose their
    evidence, as the pipeline's inner join drops them)."""
    gene_of = {}
    for t in read_jsonl(os.path.join(world, "targets.json")):
        for acc in t["uniprot_accessions"] or []:
            gene_of[acc] = t["id"]
    adj = {}
    for e in read_jsonl(os.path.join(world, "interactions.json")):
        a, b = gene_of.get(e["interactorA_uniprot_name"]), gene_of.get(e["interactorB_uniprot_name"])
        if a is not None and b is not None:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    expr_path = os.path.join(world, "expression.json")
    if not os.path.isfile(expr_path):
        return {t: sorted(n) for t, n in adj.items()}
    active = {}
    for g in read_jsonl(expr_path):
        active[g["gene"]] = {t["efo_code"] for t in g["tissues"] or []
                             if t["rna"]["zscore"] > 0 or t["protein"]["level"] > 0}
    lut = {}
    for t, ns in adj.items():
        if t not in active:
            continue
        keep = [n for n in ns if n in active and active[t] & active[n]]
        if keep:
            lut[t] = sorted(keep)
    return lut


def evidences(world):
    """(target, disease, genetics score, literature score) per evidence."""
    out = [(e["target"]["id"], e["disease"]["id"], 0.0, e["scores"]["association_score"])
           for e in read_jsonl(os.path.join(world, "evidences.json"))
           if e["sourceID"] == "europepmc"]
    traits = {s["study_id"]: s["trait_efos"] or []
              for s in pq.read_table(os.path.join(world, "studies.parquet")).to_pylist()}
    for p in pq.read_table(os.path.join(world, "predictions.parquet")).to_pylist():
        if p["y_proba_all_features"] > 0.5:
            for d in traits.get(p["study_id"], []):
                out.append((p["gene_id"], d, p["y_proba_all_features"], 0.0))
    return out


def associations(world, whitelist):
    """(target, association key) -> (evidence_count, harmonic_genetics,
    harmonic_literature, harmonic) for every group formed."""
    lut = network(world)
    members = {}
    if whitelist:
        for w in read_jsonl(os.path.join(world, "whitelist.json")):
            for d in w["whitelist"] or []:
                members.setdefault(d, []).append(w["whitelist_id"])
    groups = {}
    for t, d, gen, lit in evidences(world):
        if t not in lut:
            continue
        keys = members.get(d, []) if whitelist else [d]
        for k in keys:
            for p in set(lut[t]) | {t}:
                g = groups.setdefault((p, k), [0, [], []])
                g[0] += 1
                g[1].append(gen)
                g[2].append(lit)
    out = {}
    for key, (n, gen, lit) in groups.items():
        hg = harmonic_fold(sorted(gen, reverse=True)[:TOP_K])
        hl = harmonic_fold(sorted(lit, reverse=True)[:TOP_K])
        out[key] = (n, hg, hl, harmonic_fold(sorted([hg, hl * 0.2], reverse=True)))
    return out


def expected_pipeline(world, whitelist):
    """The two sinks as the pipeline must write them: associations keyed
    by (target, disease[, whitelist]) and drug-disease hypotheses keyed by
    (target, disease, drug), each with its recomputed values."""
    groups = associations(world, whitelist)
    diseases = set()
    for d in read_jsonl(os.path.join(world, "diseases.json")):
        if any(d["path_codes"] or []):
            diseases.add(d["code"].rsplit("/", 1)[-1])
    targets = {t["id"] for t in read_jsonl(os.path.join(world, "targets.json"))}
    drugs = read_jsonl(os.path.join(world, "drugs.json"))
    known_drugs = {g["id"] for g in drugs}
    for_target = {}
    for g in drugs:
        ids = {c["ensembl"] for m in g["mechanisms_of_action"] or []
               for c in m["target_components"] or []}
        for t in ids:
            for_target.setdefault(t, set()).add(g["id"])
    for_disease = {}
    for a in read_jsonl(os.path.join(world, "aggregations.json")):
        for_disease.setdefault(a["disease_id"], set()).add(a["drug_id"])
    aes = {}
    for r in read_jsonl(os.path.join(world, "faers_by_drug.json")):
        aes.setdefault(r["chembl_id"], []).append(r["event"])
    members = {}
    if whitelist:
        for w in read_jsonl(os.path.join(world, "whitelist.json")):
            members[w["whitelist_id"]] = sorted(set(w["whitelist"] or []))

    assoc, hyps = {}, {}
    for (t, k), scores in groups.items():
        if t not in targets or (not whitelist and scores[3] <= THRESHOLD):
            continue
        for d in (members[k] if whitelist else [k]):
            if d not in diseases:
                continue
            new = None
            if t in for_target and d in for_disease:
                new = for_target[t] - for_disease[d]
            if not whitelist and not new:
                continue
            assoc[(t, d, k)] = scores + (None if new is None else sorted(new),)
            if not new:
                continue
            disease_aes = set()
            for g in for_disease[d]:
                if g in known_drugs:
                    disease_aes |= set(aes.get(g, []))
            for h in new:
                c1 = containment(aes.get(h), disease_aes)
                c2 = containment(sorted(disease_aes), aes.get(h))
                if c1 is None or c2 is None:
                    continue
                s = (0.4 * c1 + 0.6 * c2) / 1.0
                if s > 0.0:
                    hyps.setdefault((t, d, h), []).append((scores[3], c1, c2, s))
    return assoc, hyps


def close(a, b):
    return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))


def check_pipeline(world, sinks, whitelist):
    """Problems found in one run's sinks (an empty list when correct)."""
    assoc, hyps = expected_pipeline(world, whitelist)
    problems = []
    rows = sinks["associations"]
    seen = set()
    for r in rows:
        key = (r["target_id"], r["disease_id"], r["whitelist_id"] if whitelist else r["disease_id"])
        if key in seen:
            problems.append(f"associations: duplicate row {key}")
            continue
        seen.add(key)
        want = assoc.get(key)
        if want is None:
            problems.append(f"associations: unexpected row {key}")
            continue
        n, hg, hl, h, new = want
        if r["evidence_count"] != n or not (close(r["harmonic_genetics"], hg)
                                            and close(r["harmonic_literature"], hl)
                                            and close(r["harmonic"], h)):
            problems.append(f"associations: scores of {key}: got "
                            f"{(r['evidence_count'], r['harmonic_genetics'], r['harmonic_literature'], r['harmonic'])}"
                            f", want {(n, hg, hl, h)}")
        got_new = None if r["new_drugs"] is None else sorted(r["new_drugs"])
        if got_new != new:
            problems.append(f"associations: new_drugs of {key}: got {got_new}, want {new}")
    missing = set(assoc) - seen
    if missing:
        problems.append(f"associations: {len(missing)} rows missing, e.g. {sorted(missing)[:3]}")

    got = {}
    for r in sinks["drug_disease"]:
        got.setdefault((r["target_id"], r["disease_id"], r["drug_hypothesis"]), []).append(
            tuple(r.get(c) for c in ("harmonic", "drug_hypothesis_aes_score",
                                     "disease_aes_score", "drug_hypothesis_disease_aes_score")))
    # whitelist mode can repeat a (target, disease) under several whitelist
    # ids, so rows compare as multisets per key
    for key, rs in got.items():
        want = sorted(hyps.get(key, []))
        rs = sorted(rs, key=lambda x: tuple(v if v is not None else -1.0 for v in x))
        if len(rs) != len(want):
            problems.append(f"drug_disease: {len(rs)} rows for {key}, want {len(want)}")
        elif not all(close(a, b) for r, w in zip(rs, want) for a, b in zip(r, w)):
            problems.append(f"drug_disease: scores of {key}: got {rs}, want {want}")
    missing = set(hyps) - set(got)
    if missing:
        problems.append(f"drug_disease: {len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    return problems[:20]


# --------------------------------------------------------------------------
# digests


def canon(v):
    """Order-independent canonical text: doubles to 10 significant digits,
    arrays as sorted multisets, structs by field name without null fields
    (the JSON sink omits them)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(f"{v:.10g}"))
    if isinstance(v, dict):
        return "{" + ",".join(f"{json.dumps(k)}:{canon(x)}"
                              for k, x in sorted(v.items()) if x is not None) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(sorted(canon(x) for x in v)) + "]"
    return json.dumps(v)


def rows_digest(rows):
    h = hashlib.sha256()
    for line in sorted(canon(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def read_sinks(out):
    """Both sinks of one run, as row dicts."""
    return {"associations": pq.read_table(os.path.join(out, "associations")).to_pylist(),
            "drug_disease": read_jsonl(os.path.join(out, "drug_disease", "*.json"))}


def sink_digests(sinks):
    return {name: rows_digest(rows) for name, rows in sorted(sinks.items())}


def oracle_canon_digest(parquet_dir):
    """Digest of tools/check_oracle.py's canonical rows for one result."""
    import pandas as pd
    df = pd.read_parquet(parquet_dir)
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)) or "ndarray" in type(v).__name__:
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)
    rows = sorted("|".join(norm(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update("|".join(df.columns).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return h.hexdigest(), len(rows)
