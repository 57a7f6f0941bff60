"""Seeded Open-Targets-shaped input set ("the world") for RunPipeline.

Writes every RunPipeline input in the exact shape of graft.schema.Schemas:
eight newline-delimited JSON files, studies.parquet, predictions.parquet,
expression.json and whitelist.json. The same seed gives byte-identical
files; the program under test receives only these files.

The world holds what the pipeline's behaviour depends on:
  - PPI degrees with a heavy tail (a few hub proteins, many leaves), with
    reciprocal duplicates, self-loops and accessions no target owns;
  - evidence rows per (target, disease) on both sides of the top-100 bound
    of the harmonic fold, with tied scores;
  - skewed drug -> mechanism-of-action target list sizes and adverse-event
    (AE) profile sizes, including empty ones;
  - ids that point at nothing, so the pipeline's inner and outer joins all
    drop or keep rows.

Every size (degree by hub rank, rows per pair, list and profile lengths) is
a fixed function of an entity's index; the seed decides which protein,
disease or drug gets it, and every score. So worlds of different seeds cost
about the same to process, and the benchmark's run-to-run spread measures
the program, not the draw.

Usage: python3 perfbench/world.py <seed> <outDir>
"""
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

N_TARGETS = 400
N_DISEASES = 150
N_DRUGS = 120
N_TISSUES = 40
N_EVENTS = 300
N_PPI_EDGES = 1200
N_PAIRS = 1200
N_HOT_PAIRS = 24
N_LOCI = 600
N_STUDIES = 80
N_AGGREGATIONS = 300
N_WHITELISTS = 8
EFO = "http://www.ebi.ac.uk/efo/"


def target_id(i):
    return f"ENSG{i:011d}"


def disease_id(i):
    return f"EFO_{i:07d}"


def drug_id(i):
    return f"CHEMBL{100000 + i}"


def power_law(u, n, s):
    """Index in [0, n) with P(i) ~ 1 / (i + 1)^s for u uniform in [0, 1),
    by inverse transform on a continuous power law."""
    if s == 1.0:
        x = (n + 1) ** u
    else:
        a = 1.0 - s
        x = (1.0 + u * ((n + 1) ** a - 1.0)) ** (1.0 / a)
    return min(n - 1, int(x) - 1)


def size(i, n, s):
    """A heavy-tailed size in [1, n] fixed by the index i (a golden-ratio
    sequence feeds the inverse transform): the same for every seed."""
    return 1 + power_law(math.fmod((i + 1) * 0.6180339887498949, 1.0), n, s)


def score(rng):
    # two decimals: ties inside a group are common, as in real scores
    return round(rng.uniform(0.01, 1.0), 2)


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def generate(seed, out_dir):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    # which protein holds hub rank r, which disease popularity rank p
    hub = list(range(N_TARGETS))
    rng.shuffle(hub)
    popular = list(range(N_DISEASES))
    rng.shuffle(popular)

    def some_disease():
        # 2% of references point at no disease of the dimension
        if rng.random() < 0.02:
            return disease_id(N_DISEASES + rng.randrange(50))
        return disease_id(popular[power_law(rng.random(), N_DISEASES, 0.8)])

    # --- targets: 1-3 UniProt accessions each (multi-accession genes fan
    # out in the accession LUT); accessions are unique per gene.
    accessions, n_acc = [], 0
    for t in range(N_TARGETS):
        k = 3 if t % 20 == 0 else 2 if t % 5 == 0 else 1
        accessions.append([f"P{n_acc + j:05d}" for j in range(k)])
        n_acc += k
    write_jsonl(os.path.join(out_dir, "targets.json"), [{
        "id": target_id(t), "approved_symbol": f"SYM{t}", "biotype": "protein_coding",
        "hgnc_id": f"HGNC:{1000 + t}", "uniprot_accessions": accessions[t],
        "go": [{"id": f"GO:{rng.randrange(10**7):07d}",
                "value": {"term": f"term {rng.randrange(50)}"}} for _ in range(t % 3)],
    } for t in range(N_TARGETS)])

    # --- PPI: degree ~ 1/rank^1.1 on endpoint A, uniform endpoint B; 2% of
    # A accessions unknown, 5% reciprocal duplicates, 10 self-loops.
    def acc(t):
        return accessions[t][rng.randrange(len(accessions[t]))]

    weights = [1.0 / (r + 1) ** 1.1 for r in range(N_TARGETS)]
    scale = N_PPI_EDGES / sum(weights)
    edges = []
    for r in range(N_TARGETS):
        for _ in range(max(1, round(weights[r] * scale))):
            a = acc(hub[r]) if rng.random() > 0.02 else f"X{rng.randrange(99999):05d}"
            b = acc(rng.randrange(N_TARGETS))
            edges.append((a, b))
            if rng.random() < 0.05:
                edges.append((b, a))
    for _ in range(10):
        t = rng.randrange(N_TARGETS)
        edges.append((accessions[t][0], accessions[t][0]))
    rng.shuffle(edges)
    write_jsonl(os.path.join(out_dir, "interactions.json"), [
        {"interactorA_uniprot_name": a, "interactorB_uniprot_name": b,
         "mi_score": round(rng.random(), 3),
         "source_databases": rng.sample(["intact", "mint", "dip", "biogrid"],
                                        1 + rng.randrange(3))}
        for a, b in edges])

    # --- expression: 4-15 tissues per gene; one non-hub gene in ten has no
    # record (the tissue filter drops it from the network); tissues failing
    # zscore > 0 or level > 0 are inactive.
    expression = []
    for r in range(N_TARGETS):
        if r >= N_TARGETS // 10 and r % 10 == 3:
            continue
        expression.append({"gene": target_id(hub[r]), "tissues": [{
            "efo_code": f"UBERON_{tis:07d}",
            "rna": {"zscore": round(rng.uniform(-2.0, 3.0), 3)},
            "protein": {"level": round(rng.uniform(-1.0, 1.0), 3)},
        } for tis in rng.sample(range(N_TISSUES), 4 + (7 * r) % 12)]})
    expression.sort(key=lambda g: g["gene"])
    write_jsonl(os.path.join(out_dir, "expression.json"), expression)

    # --- diseases: a DAG ontology; each disease lists every root-to-self
    # path (so it is in its own path_codes), a few have two parents.
    paths = []
    for d in range(N_DISEASES):
        if d < 5:
            paths.append([[disease_id(d)]])
            continue
        parents = {rng.randrange(d) if rng.random() < 0.5 else rng.randrange(max(1, d // 10))}
        if rng.random() < 0.1:
            parents.add(rng.randrange(d))
        paths.append([p + [disease_id(d)] for par in sorted(parents) for p in paths[par]][:4])
    write_jsonl(os.path.join(out_dir, "diseases.json"), [{
        "code": EFO + disease_id(d), "label": f"disease {d}", "path_codes": paths[d],
        "phenotypes": [f"HP_{rng.randrange(10**7):07d}" for _ in range(d % 3)],
        "therapeutic_codes": sorted({p[0] for p in paths[d]}),
    } for d in range(N_DISEASES)])

    # --- literature evidences: every protein gets three pairs of 1-12 rows;
    # 24 hot pairs at fixed hub ranks have 60-232 rows, across the top-100
    # bound. 10% of rows come from other sources and are filtered out.
    evidences = []

    def add_evidence(t, dis, k):
        for _ in range(k):
            src = "europepmc" if rng.random() < 0.9 else rng.choice(
                ["chembl", "cancer_gene_census"])
            evidences.append({
                "id": f"lit{len(evidences):08d}", "sourceID": src,
                "disease": {"id": dis}, "target": {"id": target_id(t)},
                "scores": {"association_score": score(rng)}})

    for i in range(N_PAIRS):
        add_evidence(hub[i % N_TARGETS], some_disease(), size(i, 12, 1.2))
    for i in range(N_HOT_PAIRS):
        add_evidence(hub[i * N_TARGETS // N_HOT_PAIRS], some_disease(),
                     60 + i * 180 // N_HOT_PAIRS)
    rng.shuffle(evidences)
    write_jsonl(os.path.join(out_dir, "evidences.json"), evidences)

    # --- genetics: GWAS studies with 1-3 trait EFOs x L2G predictions, one
    # unique variant per row, about half above the y_proba > 0.5 cut;
    # three loci at fixed hub ranks carry 150-250 variants.
    studies = [{"study_id": f"GCST{s:06d}", "trait_reported": f"trait {s}",
                "trait_efos": sorted({some_disease() for _ in range(1 + s % 3)}),
                "trait_category": ["measurement", "disease", "phenotype"][s % 3]}
               for s in range(N_STUDIES)]
    pq.write_table(pa.Table.from_pylist(studies, schema=pa.schema([
        ("study_id", pa.string()), ("trait_reported", pa.string()),
        ("trait_efos", pa.list_(pa.string())), ("trait_category", pa.string())])),
        os.path.join(out_dir, "studies.parquet"))
    predictions = []

    def add_predictions(t, k):
        study = f"GCST{rng.randrange(N_STUDIES):06d}"
        for _ in range(k):
            predictions.append({
                "study_id": study, "chrom": str(1 + rng.randrange(22)),
                "pos": 1000 * len(predictions) + rng.randrange(1000),
                "ref": rng.choice("ACGT"), "alt": rng.choice("ACGT"),
                "y_proba_all_features": score(rng), "gene_id": target_id(t)})

    for i in range(N_LOCI):
        add_predictions(hub[i % N_TARGETS], 1 + i % 3)
    for i in range(3):
        add_predictions(hub[(2 * i + 1) * N_TARGETS // 8], 150 + 50 * i)
    pq.write_table(pa.Table.from_pylist(predictions, schema=pa.schema([
        ("study_id", pa.string()), ("chrom", pa.string()), ("pos", pa.int64()),
        ("ref", pa.string()), ("alt", pa.string()),
        ("y_proba_all_features", pa.float64()), ("gene_id", pa.string())])),
        os.path.join(out_dir, "predictions.parquet"))

    # --- drugs: 0-3 mechanisms of 1-40 target components (heavy tail);
    # 3% of components name no known target.
    drugs = []
    for g in range(N_DRUGS):
        moa = [{"target_components": [
            {"ensembl": target_id(rng.randrange(N_TARGETS)) if rng.random() > 0.03
             else target_id(N_TARGETS + rng.randrange(50))}
            for _ in range(size(4 * g + m, 40, 1.3))]} for m in range(g % 4)]
        drugs.append({
            "id": drug_id(g), "type": "Small molecule", "pref_name": f"DRUG{g}",
            "max_clinical_trial_phase": rng.randrange(5),
            "number_of_mechanisms_of_action": len(moa),
            "indications": [{"efo_id": some_disease()} for _ in range(g % 4)],
            "mechanisms_of_action": moa})
    write_jsonl(os.path.join(out_dir, "drugs.json"), drugs)

    # --- FAERS: AE profiles of 1-12 events (heavy tail); 30% of drugs and
    # 60% of targets have none.
    def ae_rows(key, id_, count_field, k):
        return [{key: id_, "event": f"event_{e:04d}", count_field: 1 + rng.randrange(500),
                 "llr": round(rng.uniform(1, 50), 3), "critval": round(rng.uniform(1, 10), 3)}
                for e in sorted(rng.sample(range(N_EVENTS), k))]

    write_jsonl(os.path.join(out_dir, "faers_by_drug.json"), [
        row for g in range(N_DRUGS) if g % 10 >= 3
        for row in ae_rows("chembl_id", drug_id(g), "count", size(g, 12, 0.7))])
    write_jsonl(os.path.join(out_dir, "faers_by_target.json"), [
        row for t in range(N_TARGETS) if t % 10 < 4
        for row in ae_rows("target_id", target_id(t), "report_count", size(t, 12, 0.9))])

    # --- aggregations: (disease, drug) pairs, diseases by a fixed
    # popularity curve; one pair in 20 names a drug with no record (the
    # right outer join keeps it).
    pairs = {}
    for i in range(N_AGGREGATIONS):
        d = popular[size(i, N_DISEASES, 0.6) - 1]
        g = N_DRUGS + rng.randrange(40) if i % 20 == 0 else rng.randrange(N_DRUGS)
        pairs[(d, g)] = {
            "disease_id": disease_id(d), "drug_id": drug_id(g),
            "associated_diseases": sorted({some_disease() for _ in range(i % 4)}),
            "associated_targets": sorted({target_id(rng.randrange(N_TARGETS))
                                          for _ in range(i % 3)})}
    write_jsonl(os.path.join(out_dir, "aggregations.json"),
                [pairs[k] for k in sorted(pairs)])

    # --- whitelist: overlapping disease lists of 3-8 popular diseases, so
    # one evidence row can land in several groups and groups grow past
    # the top-100 bound.
    write_jsonl(os.path.join(out_dir, "whitelist.json"), [
        {"whitelist_id": f"WL_{w:03d}",
         "whitelist": sorted({disease_id(popular[power_law(rng.random(), N_DISEASES, 0.7)])
                              for _ in range(3 + w % 6)})}
        for w in range(N_WHITELISTS)])


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
