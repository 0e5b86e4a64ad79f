"""Deterministic ClinVar VCV release generator for the benchmark.

Key-shifts the ten records of data/fixtures/vcv_sample.xml and
vcv_skips.xml into synthetic releases. A release is a list of record
specs; the same seed always gives the same specs and the same bytes.

Record kinds:
  - "ok" records come from the fixtures that parse to one variant
    (exactly one SimpleAllele directly under ClassifiedRecord);
  - "skip" records come from the rest (multi-allele, genotype,
    haplotype, empty) at SKIP_SHARE of the release.

Day 1 and the annotation dims come from a fixed base seed, so a store
loaded with day 1 can be built once and restored before every run; the
--seed draws the day-2 change set and the day-3 drop set.

Variants per gene follow a Zipf law (exponent GENE_ZIPF), so a few genes
carry thousands of variants at 100k records, as in ClinVar.

generate() writes day1.xml, day2.xml, day3.xml, dims/ and expected.json.
"""
import bisect
import json
import os
import random
import re
import xml.etree.ElementTree as ET

SKIP_SHARE = 0.05
GENE_ZIPF = 1.1
# day-2 change rates, as shares of the day-1 loadable records
INSERT_RATE = 0.01
UPDATE_RATE = 0.01
DELETE_RATE = 0.005
# day 3 drops this share of day-1 records: above the 8% xdb delete ceiling
GUARD_DROP_RATE = 0.12
HOMOLOGS_PER_GENE = 2
BASE_SEED = 20260501

FIXTURES = ("vcv_sample.xml", "vcv_skips.xml")
HEADER = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<ClinVarVariationRelease xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
          ' ReleaseDate="{date}">\n')
TRAILER = "</ClinVarVariationRelease>\n"

_RECORD = re.compile(r"<VariationArchive .*?</VariationArchive>\n", re.S)
# original fixture identities that the shift replaces
_FIXTURE_GENES = {"AP5Z1": "9907", "BRCA1": "672", "GENE5": None}
_FIXTURE_CUIS = ("C3150901", "C200")


def load_templates(fixture_dir):
    """(ok, skip) lists of record texts, in fixture order."""
    ok, skip = [], []
    for name in FIXTURES:
        with open(os.path.join(fixture_dir, name), encoding="utf-8") as f:
            text = f.read()
        for rec in _RECORD.findall(text):
            cr = ET.fromstring(rec).find("ClassifiedRecord")
            alleles = [] if cr is None else cr.findall("SimpleAllele")
            (ok if len(alleles) == 1 else skip).append(rec)
    return ok, skip


def exports_vcf_line(record):
    """Whether Clinvar2VcfMain writes a line for this template: it needs a
    GRCh38 location, and the export skips a group whose REF and ALT are
    both longer than one base."""
    loc = ET.fromstring(record).find(".//SequenceLocation[@Assembly='GRCh38']")
    if loc is None:
        return False
    ref, alt = loc.get("referenceAlleleVCF", ""), loc.get("alternateAlleleVCF", "")
    return not (len(ref) > 1 and len(alt) > 1)


def gene_count(n_records):
    return max(20, n_records // 20)


class Release:
    """Turns record specs into VCV XML plus the matching annotation dims."""

    def __init__(self, fixture_dir, n_records, seed):
        self.ok, self.skip = load_templates(fixture_dir)
        self.exports = [exports_vcf_line(t) for t in self.ok]
        self.n_genes = gene_count(n_records)
        rng = random.Random(seed)
        weights = [1.0 / (r ** GENE_ZIPF) for r in range(1, self.n_genes + 1)]
        total, acc = sum(weights), 0.0
        self._cdf = []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        self._gene_rng = rng

    def draw_gene(self):
        return min(bisect.bisect_left(self._cdf, self._gene_rng.random()), self.n_genes - 1)

    def specs(self, first_key, n, rng):
        """n record specs with keys first_key.. ; each picks a template."""
        out = []
        for k in range(first_key, first_key + n):
            if rng.random() < SKIP_SHARE:
                out.append({"key": k, "kind": "skip", "t": rng.randrange(len(self.skip)),
                            "gene": 0, "rev": 0})
            else:
                out.append({"key": k, "kind": "ok", "t": rng.randrange(len(self.ok)),
                            "gene": self.draw_gene(), "rev": 0})
        return out

    @staticmethod
    def gene_symbol(g):
        return "GX%05d" % g

    @staticmethod
    def gene_id(g):
        return str(100000 + g)

    @staticmethod
    def concept(g):
        return "C%07d" % (5000000 + g)

    @staticmethod
    def omim(g):
        return str(600000 + g)

    def render(self, spec):
        k, g = spec["key"], spec["gene"]
        rec = (self.ok if spec["kind"] == "ok" else self.skip)[spec["t"]]
        chrom = str(1 + g % 22)
        base = 1_000_000 + (g // 22) * 200_000 + k * 7
        sub = lambda pat, fn, s: re.sub(pat, fn, s)
        rec = sub(r'VariationID="(\d+)"', lambda m: 'VariationID="%d"' % (10_000_000 + k), rec)
        rec = sub(r'AlleleID="(\d+)"',
                  lambda m: 'AlleleID="%d"' % (20_000_000 + k * 10 + int(m.group(1)) % 10), rec)
        rec = sub(r'Accession="RCV(\d+)"',
                  lambda m: 'Accession="RCV%09d%d"' % (k, int(m.group(1)) % 10), rec)
        rec = sub(r'Accession="SCV(\d+)"',
                  lambda m: 'Accession="SCV%09d%d"' % (k, int(m.group(1)) % 10), rec)
        rec = sub(r'ClinicalAssertion ID="(\d+)"',
                  lambda m: 'ClinicalAssertion ID="%d"' % (30_000_000 + k * 10 + int(m.group(1)) % 10),
                  rec)
        rec = sub(r'ClinicalAssertionID="(\d+)"',
                  lambda m: 'ClinicalAssertionID="%d"' % (30_000_000 + k * 10 + int(m.group(1)) % 10),
                  rec)
        rec = sub(r'DB="dbSNP" ID="(\d+)"', lambda m: 'DB="dbSNP" ID="%d"' % (800_000_000 + k), rec)
        rec = sub(r' Chr="[^"]*"', ' Chr="%s"' % chrom, rec)
        rec = sub(r' (start|stop|display_start|display_stop|positionVCF)="(\d+)"',
                  lambda m: ' %s="%d"' % (m.group(1), base + int(m.group(2)) % 100), rec)
        rec = sub(r'c\.(\d+)', lambda m: "c.%d" % (int(m.group(1)) + k), rec)
        sym, gid = self.gene_symbol(g), self.gene_id(g)
        for old_sym, old_id in _FIXTURE_GENES.items():
            rec = rec.replace(old_sym, sym)
            if old_id:
                rec = rec.replace('GeneID="%s"' % old_id, 'GeneID="%s"' % gid)
        rec = sub(r'HGNC_ID="HGNC:\d+"', 'HGNC_ID="HGNC:%d"' % (50000 + g), rec)
        for cui in _FIXTURE_CUIS:
            rec = rec.replace('"%s"' % cui, '"%s"' % self.concept(g))
        if spec["rev"]:
            # content update: the allele's Name is a compared column
            rec = re.sub(r"(<SimpleAllele [^>]*>.*?<Name>)([^<]*)",
                         lambda m: m.group(1) + m.group(2) + " rev%d" % spec["rev"], rec,
                         count=1, flags=re.S)
        return rec

    def write_xml(self, path, specs, date):
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(HEADER.format(date=date))
            for s in specs:
                f.write(self.render(s))
            f.write(TRAILER)

    def write_dims(self, dims_dir):
        """genes, terms, rdo_synonyms, orthologs parquet + the MedGen TSV."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(dims_dir, exist_ok=True)
        gs = range(self.n_genes)

        def write(name, cols):
            pq.write_table(pa.table(cols), os.path.join(dims_dir, name))

        write("genes.parquet", {
            "gene_id": pa.array([self.gene_id(g) for g in gs], pa.string()),
            "gene_rgd_id": pa.array([3_000_000 + g for g in gs], pa.int64())})
        write("rdo_synonyms.parquet", {
            "term_acc": pa.array(["RDO:%07d" % g for g in gs], pa.string()),
            "synonym": pa.array(["OMIM:" + self.omim(g) for g in gs], pa.string())})
        write("terms.parquet", {
            "term_acc": pa.array(["RDO:%07d" % g for g in gs], pa.string()),
            "name": pa.array(["generated disorder %d" % g for g in gs], pa.string())})
        write("orthologs.parquet", {
            "gene_rgd_id": pa.array([3_000_000 + g for g in gs for _ in range(HOMOLOGS_PER_GENE)],
                                    pa.int64()),
            "homolog_rgd_id": pa.array([4_000_000 + g * HOMOLOGS_PER_GENE + h for g in gs
                                        for h in range(HOMOLOGS_PER_GENE)], pa.int64())})
        with open(os.path.join(dims_dir, "gene_condition_source_id.tsv"), "w",
                  encoding="utf-8", newline="\n") as f:
            f.write("#gene_id\tsym\tconcept\tname\tsource\tsource_id\tomim\n")
            for g in gs:
                f.write("%s\t%s\t%s\tgenerated disorder %d\tOMIM\tx\t%s\n" % (
                    self.gene_id(g), self.gene_symbol(g), self.concept(g), g, self.omim(g)))


def pick(rng, pool, share):
    """A deterministic sorted sample of round(share * len(pool)) items."""
    return sorted(rng.sample(pool, round(share * len(pool))), key=lambda s: s["key"])


def generate(fixture_dir, out_dir, n_records, seed):
    """Write the three releases, the dims and expected.json under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rel = Release(fixture_dir, n_records, BASE_SEED)
    day1 = rel.specs(0, n_records, random.Random(BASE_SEED + 1))
    rng = random.Random(seed)
    ok1 = [s for s in day1 if s["kind"] == "ok"]

    deleted = {s["key"] for s in pick(rng, ok1, DELETE_RATE)}
    updated = {s["key"] for s in pick(rng, [s for s in ok1 if s["key"] not in deleted],
                                      UPDATE_RATE)}
    n_ins = round(INSERT_RATE * len(ok1))
    inserts = []
    while len(inserts) < n_ins:
        # inserts are loadable records: a skip draw is drawn again
        s = rel.specs(n_records + len(inserts), 1, rng)[0]
        if s["kind"] == "ok":
            inserts.append(s)
    day2 = [dict(s, rev=1) if s["key"] in updated else s
            for s in day1 if s["key"] not in deleted] + inserts

    dropped = {s["key"] for s in pick(rng, ok1, GUARD_DROP_RATE)}
    day3 = [s for s in day1 if s["key"] not in dropped]

    rel.write_xml(os.path.join(out_dir, "day1.xml"), day1, "2026-05-01")
    rel.write_xml(os.path.join(out_dir, "day2.xml"), day2, "2026-05-02")
    rel.write_xml(os.path.join(out_dir, "day3.xml"), day3, "2026-05-03")
    rel.write_dims(os.path.join(out_dir, "dims"))

    def positioned(specs):
        return sum(1 for s in specs if s["kind"] == "ok" and rel.exports[s["t"]])

    n_ok1 = len(ok1)
    expected = {
        "seed": seed, "records": n_records, "genes": rel.n_genes,
        "rates": {"skip": SKIP_SHARE, "insert": INSERT_RATE, "update": UPDATE_RATE,
                  "delete": DELETE_RATE, "guard_drop": GUARD_DROP_RATE},
        "day1": {"variants": {"insert": n_ok1}, "vcf_lines": positioned(day1)},
        "day2": {"variants": {"insert": len(inserts), "update": len(updated),
                              "delete": len(deleted),
                              "match": n_ok1 - len(updated) - len(deleted)},
                 "vcf_lines": positioned(day2)},
        "day3": {"variants": {"delete": len(dropped), "match": n_ok1 - len(dropped)},
                 "xdb_ids": {"delete": 0}},
        "top_gene_variants": max(_gene_hist(ok1).values()),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def _gene_hist(specs):
    h = {}
    for s in specs:
        h[s["gene"]] = h.get(s["gene"], 0) + 1
    return h

