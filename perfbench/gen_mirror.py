"""Seeded recount3-format mirror for the recount3_etl workload.

Writes a file:// mirror in exactly the layout `graft.locate.ProjectLocator`
and `Locators.metadataUrls` generate (organism `human`, one data source
`data_sources/sra`, annotation G026, junction format UNIQUE), covering all
five dtypes:

- metadata: the corpus `recount_project` file plus the five per-project
  tag files (sra, recount_project, recount_qc, recount_seq_qc,
  recount_pred) joined on (rail_id, external_id, study);
- gene/exon: a GTF annotation each plus one wide counts file per project;
- junctions: the MM/ID/RR triple per project;
- bigwig: zero-byte `.ALL.bw` files for every (project, sample) pair the
  locator asks for.

Every file is gzip-compressed with a zero mtime, so one seed always gives
byte-identical files. Next to the mirror it writes `expected.json`: the
checks a pass must reproduce, derived from the generated values (URL and
file counts, row counts per dtype, per-sample count sums, scale factors
and scaled sums under both factor types).

Usage: python3 perfbench/gen_mirror.py <out_dir> <seed>
"""
import gzip
import json
import math
import os
import random
import sys

ORGANISM = "human"
DBASE = "sra"
DSOURCE = "data_sources/sra"
ANNOTATION = "G026"
JXN_FORMAT = "UNIQUE"
META_TAGS = ["sra", "recount_project", "recount_qc", "recount_seq_qc", "recount_pred"]

# Size of one mirror, set from public recount3 dimensions (Wilks et al.,
# "recount3: summaries and queries for large-scale RNA-seq expression and
# splicing", Genome Biology 22:323, 2021, and the recount3 quick-start),
# scaled down to fit the run budget (see README.md, "Inputs"):
#
# - genes: the G026 (GENCODE v26) gene annotation has 63,856 genes, and every
#   project's gene_sums file has a row for each of them. Scaled down 4x to
#   16,000. At the full 63,856 a pass took 29 s cold on a 4-core host, at
#   16,000 about 20 s: most of a pass is the loaders' per-job cost.
# - samples: 8 per project. recount3 averages about 40 samples per study
#   (over 750,000 samples in 8,679 human and 10,088 mouse studies), and
#   SRP009615, the project the recount3 quick-start loads, has 12.
# - exons: G026's exon level has about 1.3 million rows, 20x its gene
#   level. Scaled down 80x to 16,000, so each exon file is the size of a
#   gene file.
# - junctions: no per-project junction count is cited here. The UNIQUE
#   matrix has 4,000 junctions with 30% of its cells filled, the smallest
#   of the three count levels.
# - projects: two, so the loaders' and the scan's cross-project unions and
#   joins run.
#
# At this size a pass reads about 512,000 gene and exon count cells.
PROJECTS = 2
SAMPLES = 8
GENES = 16000
EXONS = 16000
JXN_ROWS = 4000
JXN_DENSITY = 0.3

# Scale-factor constants, as the transform step passes them to graft.transform.Scale.
TARGET_SIZE = 4e7
READ_LENGTH = 100


def shard(ident):
    return ident[-2:]


def write_gz(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(gzip.compress(text.encode("utf-8"), compresslevel=1, mtime=0))


def tsv(rows):
    return "".join("\t".join(str(v) for v in r) + "\n" for r in rows)


def count(u):
    """One count cell from a uniform draw: 0 in a fifth of the cells, else 1..5000."""
    return 0 if u < 0.2 else 1 + int((u - 0.2) * 6250)


def round_half_up(x):
    """Spark's round(double, 0) of a non-negative double: HALF_UP on the
    double's decimal form. A double whose fraction is not exactly .5 has
    no shortest decimal form ending in .5, so comparing the exact binary
    fraction with 0.5 gives the same result."""
    whole = math.floor(x)
    return int(whole) + (1 if x - whole >= 0.5 else 0)


def gtf_text(rng, feature_ids, kind):
    lines = ["##description: generated %s annotation" % kind, "#!genome-build GRCh38"]
    for i, fid in enumerate(feature_ids):
        chrom = "chr%d" % (1 + i % 22)
        start = 1000 + 37 * i
        end = start + rng.randint(50, 5000)
        strand = "+" if rng.random() < 0.5 else "-"
        attrs = ['gene_id "%s"' % fid, 'gene_name "N%d"' % i, 'gene_source "havana"']
        if i % 3:
            attrs.append('gene_biotype "protein_coding"')
        if kind == "exon":
            attrs += ['transcript_id "T%d"' % i, 'exon_number "%d"' % (1 + i % 7),
                      'exon_id "E%d"' % i]
        if i % 5 == 0:
            attrs.append('tag "basic"')
        lines.append("\t".join([chrom, "havana", "gene" if kind == "gene" else "exon",
                                str(start), str(end), ".", strand, ".",
                                "; ".join(attrs) + ";"]))
    return "\n".join(lines) + "\n"


def build(out, seed):
    rng = random.Random(seed)
    root = os.path.join(out, "mirror")
    human = os.path.join(root, ORGANISM)
    os.makedirs(human, exist_ok=True)
    with open(os.path.join(human, "homes_index"), "w") as f:
        f.write(DSOURCE + "\n\n")

    pnums = rng.sample(range(100000, 999999), PROJECTS)
    projects = ["SRP%06d" % n for n in sorted(pnums)]
    snums = rng.sample(range(1000000, 9999999), PROJECTS * SAMPLES)
    samples = {p: ["SRR%07d" % n for n in sorted(snums[i * SAMPLES:(i + 1) * SAMPLES])]
               for i, p in enumerate(projects)}
    all_samples = sorted(s for p in projects for s in samples[p])
    rails = dict(zip(all_samples, rng.sample(range(10000, 99999), len(all_samples))))
    qc = {}
    for s in all_samples:
        avg_len = READ_LENGTH
        paired = rng.random() < 0.5
        mapped_len = avg_len * (2 if paired else 1) * rng.uniform(0.9, 1.1)
        qc[s] = {
            "star.all_mapped_reads": str(rng.randint(10_000_000, 60_000_000)),
            "star.average_mapped_length": "%.2f" % mapped_len,
            "avg_len": str(avg_len),
            "bc_auc.all_reads_all_bases": str(rng.randint(1_000_000_000, 5_000_000_000)),
        }

    # ---- metadata: corpus file + five tag files per project ----
    corpus_cols = ["rail_id", "external_id", "study", "project", "organism",
                   "project_home", "file_source", "date_processed"]
    corpus_rows = [[rails[s], s, p, p, "Homo sapiens" if i % 2 else "human",
                    DSOURCE, DBASE, "2024-01-%02d" % (1 + i)]
                   for p in projects for i, s in enumerate(samples[p])]
    write_gz(os.path.join(human, DSOURCE, "metadata", "%s.recount_project.MD.gz" % DBASE),
             tsv([corpus_cols] + corpus_rows))
    tag_cols = {
        "sra": (["sra_attr"], lambda p, s, i: ["attr%d" % rng.randint(0, 9)]),
        "recount_project": (["project", "organism"], lambda p, s, i: [p, "Homo sapiens"]),
        "recount_qc": (["star.all_mapped_reads", "star.average_mapped_length", "avg_len"],
                       lambda p, s, i: [qc[s]["star.all_mapped_reads"],
                                        qc[s]["star.average_mapped_length"],
                                        qc[s]["avg_len"]]),
        "recount_seq_qc": (["bc_auc.all_reads_all_bases"],
                           lambda p, s, i: [qc[s]["bc_auc.all_reads_all_bases"]]),
        "recount_pred": (["pred_attr"], lambda p, s, i: ["pred%d" % rng.randint(0, 9)]),
    }
    for p in projects:
        base = os.path.join(human, DSOURCE, "metadata", shard(p), p)
        for tag in META_TAGS:
            cols, vals = tag_cols[tag]
            rows = [["rail_id", "external_id", "study"] + cols]
            rows += [[rails[s], s, p] + vals(p, s, i) for i, s in enumerate(samples[p])]
            write_gz(os.path.join(base, "%s.%s.%s.MD.gz" % (DBASE, tag, p)), tsv(rows))

    # ---- gene / exon: annotation GTF + wide counts per project ----
    sums = {}
    cells = {}
    for kind, dtype, universe in (("gene", "gene_sums", GENES), ("exon", "exon_sums", EXONS)):
        if kind == "gene":
            ids = ["ENSG%011d.%d" % (1000 + 3 * i, 1 + i % 9) for i in range(universe)]
        else:
            ids = ["chr%d|%d|%d|%s" % (1 + i % 22, 1000 + 41 * i, 1090 + 41 * i,
                                       "+" if i % 2 else "-") for i in range(universe)]
        write_gz(os.path.join(human, "annotations", dtype,
                              "%s.%s.%s.gtf.gz" % (ORGANISM, dtype, ANNOTATION)),
                 gtf_text(rng, ids, kind))
        kind_sums = {}
        kind_cells = {}
        for p in projects:
            columns = [[count(rng.random()) for _ in ids] for _ in samples[p]]
            kind_cells.update(zip(samples[p], columns))
            header = ["gene_id" if kind == "gene" else "exon_id"] + samples[p]
            body = "".join(fid + "\t" + "\t".join(map(str, vals)) + "\n"
                           for fid, vals in zip(ids, zip(*columns)))
            write_gz(os.path.join(human, DSOURCE, dtype, shard(p), p,
                                  "%s.%s.%s.%s.gz" % (DBASE, dtype, p, ANNOTATION)),
                     "##annotation=%s\n##date.generated=2024-01-01\n" % ANNOTATION
                     + tsv([header]) + body)
        sums[kind] = {s: sum(v) for s, v in kind_cells.items()}
        cells[kind] = kind_cells

    # ---- junctions: ID / MM / RR per project ----
    jxn_nnz = {}
    jxn_sum = 0
    rr_cols = ["chromosome"] + ["c%d" % i for i in range(1, 10)]
    for p in projects:
        base = os.path.join(human, DSOURCE, "junctions", shard(p), p)
        stem = "%s.junctions.%s.%s" % (DBASE, p, JXN_FORMAT)
        write_gz(os.path.join(base, stem + ".ID.gz"),
                 "rail_id\n" + "".join("%d\n" % rails[s] for s in samples[p]))
        triples = []
        for r in range(1, JXN_ROWS + 1):
            for c in range(1, SAMPLES + 1):
                if rng.random() < JXN_DENSITY:
                    triples.append((r, c, rng.randint(1, 300)))
        jxn_nnz[p] = len(triples)
        jxn_sum += sum(t[2] for t in triples)
        write_gz(os.path.join(base, stem + ".MM.gz"),
                 "%%MatrixMarket matrix coordinate integer general\n%\n"
                 + "%d %d %d\n" % (JXN_ROWS, SAMPLES, len(triples))
                 + "".join("%d %d %d\n" % t for t in triples))
        rr = [rr_cols] + [["chr%d" % (1 + r % 22)] + ["%s_%d_%d" % (c, r, rng.randint(0, 99))
                                                       for c in rr_cols[1:]]
                          for r in range(JXN_ROWS)]
        write_gz(os.path.join(base, stem + ".RR.gz"), tsv(rr))

    # ---- bigwig: zero-byte files for every (project, sample) pair ----
    for p in projects:
        for s in all_samples:
            path = os.path.join(human, DSOURCE, "base_sums", shard(p), p, shard(s),
                                "%s.base_sums.%s_%s.ALL.bw" % (DBASE, p, s))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            open(path, "wb").close()

    # ---- expected checks ----
    mapped = {}
    auc = {}
    for s in all_samples:
        mr = float(qc[s]["star.all_mapped_reads"])
        ml = float(qc[s]["star.average_mapped_length"])
        al = float(qc[s]["avg_len"])
        paired = 2 if round_half_up(ml / al) == 2 else 1
        mapped[s] = TARGET_SIZE * READ_LENGTH * paired / (mr * ml ** 2)
        auc[s] = TARGET_SIZE / float(qc[s]["bc_auc.all_reads_all_bases"])
    gene_cells = cells["gene"]
    files = []
    for dirpath, _, names in os.walk(human):
        files += [os.path.join(dirpath, n) for n in names if n != "homes_index"]
    pruned_project = projects[0]
    pruned_samples = samples[pruned_project][:2]
    expected = {
        "seed": seed,
        "organism": ORGANISM,
        "dbase": DBASE,
        "data_sources": {DBASE: DSOURCE},
        "annotation": ANNOTATION,
        "jxn_format": JXN_FORMAT,
        "target_size": TARGET_SIZE,
        "read_length": READ_LENGTH,
        "projects": projects,
        "samples": all_samples,
        "project_samples": samples,
        "url_count": len(files),
        "mirror_bytes": sum(os.path.getsize(f) for f in files),
        "corpus_rows": len(corpus_rows),
        "corpus_cols": len(corpus_cols),
        "project_metadata_rows": len(all_samples),
        "gene_gtf_rows": GENES,
        "exon_gtf_rows": EXONS,
        "gene_rows": GENES,
        "exon_rows": EXONS,
        "gene_sums": sums["gene"],
        "exon_sums": sums["exon"],
        "gene_long_rows": len(projects) * GENES * SAMPLES,
        "jxn_long_rows": sum(jxn_nnz.values()),
        "jxn_value_sum": jxn_sum,
        "jxn_meta_rows": len(projects) * JXN_ROWS,
        "jxn_wide_rows": JXN_ROWS,
        "bw_rows": len(projects) * len(all_samples),
        "mm_project": projects[0],
        "mm_nnz": jxn_nnz[projects[0]],
        "pruned_project": pruned_project,
        "pruned_samples": pruned_samples,
        "pruned_sums": {s: sums["gene"][s] for s in pruned_samples},
        "mapped_factors": mapped,
        "auc_factors": auc,
        "mapped_scaled_sums": {s: sum(v * mapped[s] for v in gene_cells[s]) for s in all_samples},
        "auc_scaled_sums": {s: sum(round_half_up(v * auc[s]) for v in gene_cells[s])
                            for s in all_samples},
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]))
