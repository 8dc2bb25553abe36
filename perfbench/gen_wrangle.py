"""Seeded CCGP-shaped inputs for the `wrangle` workload, with planted truth.

Writes, under the output directory:
  dims/species_projects.csv, assemblies.csv, reference_progress.csv,
       expected_counts.csv                       (species->project, assembly,
                                                  dashboard dimensions)
  batch_NNN/sheet.csv     minicore sheet (even batches): info and example
                          rows, a leading sample-number column, mixed dates
  batch_NNN/sheet.tsv     non-minicore sheet (odd batches): junk preamble,
                          lat_lon in decimal / hemisphere / DMS / "Not
                          determined" forms, unanticipated columns and an
                          `Unnamed` column
  batch_NNN/manifest.csv  sequencing manifest (sample, seq ids, sequenced flag)
  batch_NNN/listing.csv   the new S3-listing slice: R1/R2 pairs, multi-lane
                          quads, separator variants, a non-gz file, conflicts,
                          orphans, and late reads of earlier samples

and returns a Truth object that knows, for every file, which sample it
belongs to (or that it is an orphan), and can replay the state after any
batch. Nothing here calls the program.
"""
import os
import random
from dataclasses import dataclass, field

GENERA = [  # (project, genus, [species])
    ("1-Sceloporus", "Sceloporus", ["occidentalis", "graciosus"]),
    ("2-Quercus", "Quercus", ["lobata", "douglasii"]),
    ("3-Shared", "Dipodomys", ["stephensi"]),
    ("3-Shared", "Chaetodipus", ["californicus"]),
    ("4-Anniella", "Anniella", ["pulchra"]),
    ("5-Batrachoseps", "Batrachoseps", ["attenuatus", "major"]),
    ("6-Lynx", "Lynx", ["rufus"]),
    ("7-Pinus", "Pinus", ["sabiniana"]),
    ("8-Ensatina", "Ensatina", ["eschscholtzii"]),
    ("9-Aquila", "Aquila", ["chrysaetos"]),
    ("10-Bombus", "Bombus", ["vosnesenskii", "crotchii"]),
    ("11-Vulpes", "Vulpes", ["macrotis"]),
]
UNKNOWN = "Unknown project-id"
EXTRA_COLS = ["collector", "permit_id", "habitat_note", "voucher_box"]
LOSER_LETTERS = "WYKHMJXV"  # never appear in generated file names


@dataclass
class Sample:
    name: str
    organism: str
    project: str
    expected: int
    seq_id: str  # first probed id, "" when not sequenced
    sequenced: bool
    batch: int
    files: list = field(default_factory=list)  # linked .gz files
    reads_batch: int = -1  # batch whose listing carries the files
    size: int = 0


class Truth:
    def __init__(self):
        self.samples = {}  # name -> Sample
        self.order = []  # (batch, name) in submission order
        self.files = {}  # file -> (batch, sample or None, size)

    def state(self, last_batch):
        """Samples submitted by `last_batch`, with the files linked by then."""
        out = {}
        for b, name in self.order:
            if b <= last_batch:
                s = self.samples[name]
                linked = s.files if 0 <= s.reads_batch <= last_batch else []
                out[name] = (s.project, sorted(linked), s.size if linked else None,
                             s.expected)
        return out

    def pairs(self, files):
        """Read pairs a workflow sheet must show for a sample's files."""
        if len(files) == 2:
            return [tuple(sorted(files))]
        if len(files) == 4:
            r1 = sorted(f for f in files if "_R1_" in f)
            return [(f, f.replace("_R1_", "_R2_")) for f in r1]
        return []

    def orphans(self, last_batch):
        return {f for f, (b, s, _) in self.files.items() if b <= last_batch and s is None}

    def new_files(self, last_batch):
        return [f for f, (b, _, _) in self.files.items() if b <= last_batch]


def generate(out_dir, seed, n_batches, samples_per_batch):
    rnd = random.Random(seed)
    truth = Truth()
    os.makedirs(os.path.join(out_dir, "dims"))
    write(out_dir, "dims/species_projects.csv",
          ["Species-project,Genus,GenusSpeciesSuborVar"] +
          [f"{p},{g},{g} {s}" for p, g, ss in GENERA for s in ss] +
          ["2-Quercus,Quercus,Quercus lobata lobata"])
    projects = sorted({p for p, _, _ in GENERA})
    write(out_dir, "dims/assemblies.csv", ["project_id,accession"] +
          [f"{p},GCA_{9000 + i:06d}.1" for i, p in enumerate(projects) if i % 2 == 0])
    write(out_dir, "dims/reference_progress.csv", ["project_id,stage"] +
          [f"{p},{rnd.choice(['1-received', '2-assembling', '3-scaffolded'])}"
           for p in projects])
    write(out_dir, "dims/expected_counts.csv", ["project_id,n_expected"] +
          [f"{p},{rnd.randint(40, 160)}" for p in projects])

    counter = [0]

    def next_id():
        counter[0] += 1
        return counter[0]

    def add_file(b, name, sample, listing):
        size = rnd.randint(10 ** 8, 5 * 10 ** 9)
        truth.files[name] = (b, sample, size)
        listing.append(f"{name},{size},2024-{1 + b % 12:02d}-{1 + rnd.randrange(28):02d}"
                       f"T{rnd.randrange(24):02d}:{rnd.randrange(60):02d}:00")
        return size

    def give_reads(s, b, listing, plain=False):
        """The sample's reads, in one listing slice: a pair, a lane quad or a
        separator-variant pair (matched only after the `_`->`-` rewrite);
        plain pairs sometimes come with an uncompressed copy, which matches
        at the same tier and is then dropped by the .gz filter."""
        sid = s.seq_id
        lane = rnd.randrange(1, 9)
        kind = 1.0 if plain else rnd.random()
        if kind < 0.2:
            files = [f"{sid}_S{lane}_L00{ln}_R{r}_001.fastq.gz" for ln in (1, 2) for r in (1, 2)]
        elif kind < 0.35:
            files = [f"{sid.replace('_', '-')}_S{lane}_L001_R{r}_001.fastq.gz" for r in (1, 2)]
        else:
            files = [f"{sid}_S{lane}_L001_R{r}_001.fastq.gz" for r in (1, 2)]
        s.files, s.reads_batch = files, b
        s.size = sum(add_file(b, f, s.name, listing) for f in files)
        if kind >= 0.35 and rnd.random() < 0.1:
            add_file(b, f"{sid}_S{lane}_L001_R1_001.fastq", None, listing)

    late = []  # (batch due, sample)
    submitted = []
    for b in range(n_batches):
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir)
        listing, manifest, rows = [], [], []
        p, genus, species = rnd.choice(GENERA)

        def submit(s, raw):
            truth.samples[s.name] = s
            truth.order.append((b, s.name))
            submitted.append(s)
            rows.append((raw, s))

        for i in range(samples_per_batch):
            n = next_id()
            r = rnd.random()
            # one species missing from the lookup, in the first batch only,
            # so every later batch touches exactly one project (one sheet)
            if b == 0 and i == 0:
                organism, project, expected = "Unknownus speciesus", UNKNOWN, 0
            elif r < 0.12:
                organism, project, expected = f"{genus} novus", p, 0
            elif r < 0.22:
                organism, project, expected = f"{genus} {rnd.choice(species)} subsp. x", p, 1
            else:
                organism, project, expected = f"{genus} {rnd.choice(species)}", p, 1
            raw = rnd.choice([f"CCGP{n:05d}", f"CC {n:05d}.a", f"MC.{n:05d}"])
            name = raw.replace(" ", "_").replace(".", "_")
            seq_kind = rnd.random()
            if seq_kind < 0.1:
                s = Sample(name, organism, project, expected, "", False, b)
                manifest.append(f"{name},,NO")
            else:
                sid = f"QS_{n:05d}" if seq_kind < 0.8 else f"QT{n:05d}"
                s = Sample(name, organism, project, expected, sid, True, b)
                if seq_kind > 0.95:  # multi-id: only the first is probed
                    manifest.append(f'{name},"{sid},QS_{n:05d}X",YES')
                    add_file(b, f"QS_{n:05d}X_S1_L001_R1_001.fastq.gz", None, listing)
                else:
                    manifest.append(f"{name},{sid},YES")
                if rnd.random() < 0.25:
                    late.append((b + rnd.randint(1, 2), s))
                else:
                    give_reads(s, b, listing)
            submit(s, raw)
        if b % 2 == 1:  # a file matched by two samples: the closer name wins
            n_w, n_l = next_id(), next_id()
            loser = "".join(rnd.choice(LOSER_LETTERS) for _ in range(10))
            organism = f"{genus} {species[0]}"
            win = Sample(f"QS_{n_w:05d}", organism, p, 1, f"QS_{n_w:05d}", True, b)
            lose = Sample(loser, organism, p, 1, f"QS_{n_l:05d}", True, b)
            shared = [f"QS_{n_w:05d}_QS_{n_l:05d}_S9_L001_R{r}_001.fastq.gz" for r in (1, 2)]
            win.files, win.reads_batch = shared, b
            win.size = sum(add_file(b, f, win.name, listing) for f in shared)
            give_reads(lose, b, listing, plain=True)
            for s in (win, lose):
                manifest.append(f"{s.name},{s.seq_id},YES")
                submit(s, s.name)
        if b > 0:  # a resubmission of an earlier sample of the same project
            same = [s for s in submitted if s.batch < b and s.project == p]
            if same:
                old = rnd.choice(same)
                rows.append((old.name, old))
                manifest.append(f"{old.name},{old.seq_id},{'YES' if old.sequenced else 'NO'}")
        write_sheet(bdir, rows, rnd, tsv=b % 2 == 1)
        for due, s in [x for x in late if x[0] == b]:
            give_reads(s, b, listing)
        for k in range(rnd.randint(2, 3)):
            add_file(b, f"Undetermined_B{b}x{k}_L001_R1_001.fastq.gz", None, listing)
        write(bdir, "manifest.csv", ["sample_name,minicore_seq_id,minicore_sequenced"] + manifest)
        write(bdir, "listing.csv", ["file_name,filesize,mdate"] + listing)
    return truth


def write_sheet(bdir, rows, rnd, tsv):
    if not tsv:
        lines = ["num,SampleID*,Genus species*,Preferred Sequence ID,subspecies,"
                 "gDNA extraction method*,decimal latitude*,decimal longitude*,"
                 "sample collection date*,Locality Name,Locality Description,Collector notes",
                 "info,This row is info text,,,,,,,,,,",
                 "example,EX1,Genus species,,,,0,0,1/1/2000,Example,Example row,"]
        for i, (raw, s) in enumerate(rows):
            date = rnd.choice([f"{rnd.randint(1, 12)}/{rnd.randint(1, 28)}/20{rnd.randint(10, 23)}",
                               f"20{rnd.randint(10, 23)}-0{rnd.randint(1, 9)}-1{rnd.randint(0, 9)}"])
            lat = rnd.choice([1, -1]) * round(rnd.uniform(32, 42), 4)
            lon = rnd.choice([1, -1]) * round(rnd.uniform(114, 124), 4)
            lines.append(f"{i + 1},{raw},{s.organism},Pref{i},,kit {rnd.choice('AB')},"
                         f"{lat},{lon},{date},Loc{i},Site {i},note {i}")
        lines.append(f"{len(rows) + 1},,Empty row should drop,,,,,,,,,")
        write(bdir, "sheet.csv", lines)
    else:
        extras = rnd.sample(EXTRA_COLS, 2)
        lines = ["Submission prepared for CCGP"] * rnd.randint(1, 3)
        lines.append("\t".join(["*sample_name", "*organism", "*collection_date",
                                "*geo_loc_name", "*tissue", "sex", "lat_lon"] +
                               extras + ["Unnamed: 12"]))
        for i, (raw, s) in enumerate(rows):
            date = rnd.choice([f"{rnd.randint(1, 12)}/{rnd.randint(1, 28)}/2021",
                               "2020,2021", f"2019-0{rnd.randint(1, 9)}-0{rnd.randint(1, 9)}"])
            latlon = rnd.choice([
                f"{rnd.uniform(32, 42):.2f},-{rnd.uniform(114, 124):.2f}",
                f"{rnd.uniform(32, 42):.5f} N {rnd.uniform(114, 124):.5f} W",
                "0°51'56.29\" S 120°37'22.8\" W",
                "Not determined (protected)"])
            lines.append("\t".join([raw, s.organism, date, "USA: California",
                                    rnd.choice(["liver", "leaf", "tail"]),
                                    rnd.choice(["M", "F", ""]), latlon,
                                    f"x{i}", f"y{i}", "junk"]))
        write(bdir, "sheet.tsv", lines)


def write(d, name, lines):
    with open(os.path.join(d, name), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
