"""Checks of the program's stored outputs, made apart from the program.

Lifecycle: DuckDB re-derives the graph's ORTHOLOG, NEIGHBOUR, CLUSTER_IN_STRAIN
and strain tables and the per-strain GC/CAI statistics from the stored ETL
parquet, and every analysis output is checked for the properties it must
have. Query suite: each stored result is compared with its DuckDB oracle in
the way tools/check_oracle.py compares (column names sorted, rows sorted,
values exactly equal).

Each check is one operation. A check returns None when it passes and a
one-line reason when it fails.
"""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

# Sharp & Li (1987) E. coli codon weights, the index the program's CAI uses
SHARP_ECOLI = {
    "GCA": 0.586, "GCC": 0.122, "GCG": 0.424, "GCT": 1.0,
    "AGA": 0.004, "AGG": 0.002, "CGA": 0.004, "CGC": 0.356,
    "CGG": 0.004, "CGT": 1.0, "AAC": 1.0, "AAT": 0.051,
    "GAC": 1.0, "GAT": 0.434, "TGC": 1.0, "TGT": 0.5,
    "CAA": 0.124, "CAG": 1.0, "GAA": 1.0, "GAG": 0.259,
    "GGA": 0.010, "GGC": 0.724, "GGG": 0.019, "GGT": 1.0,
    "CAC": 1.0, "CAT": 0.291, "ATA": 0.003, "ATC": 1.0, "ATT": 0.185,
    "CTA": 0.007, "CTC": 0.037, "CTG": 1.0, "CTT": 0.042,
    "TTA": 0.020, "TTG": 0.020, "AAA": 1.0, "AAG": 0.253, "ATG": 1.0,
    "TTC": 1.0, "TTT": 0.296, "CCA": 0.135, "CCC": 0.012, "CCG": 1.0,
    "CCT": 0.070, "AGC": 0.410, "AGT": 0.085, "TCA": 0.077, "TCC": 0.744,
    "TCG": 0.017, "TCT": 1.0, "ACA": 0.076, "ACC": 1.0, "ACG": 0.099,
    "ACT": 0.965, "TGG": 1.0, "TAC": 1.0, "TAT": 0.239,
    "GTA": 0.495, "GTC": 0.066, "GTG": 0.221, "GTT": 1.0,
}
CORE_FRAC = 0.95
MIN_EDGES, MAX_EDGES = 5, 200
MIN_DICE = 0.5


def _pq(path):
    """A DuckDB source for a stored Spark table (partition columns kept)."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    # a runaway oracle fails its check instead of exhausting the host
    con.execute("SET memory_limit = '2GB'")
    return con


def _multiset_diff(con, a_sql, b_sql):
    """Rows in one multiset and not the other, both ways."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a_sql} EXCEPT ALL {b_sql})),"
        f"       (SELECT count(*) FROM ({b_sql} EXCEPT ALL {a_sql}))").fetchone()


# ------------------------------------------------------------------ tree

def balanced_tree_distances(n):
    """Leaf distance on the balanced binary tree over S000..S(n-1) with unit
    branch lengths, split as the benchmark's Newick string is split."""
    paths = {}

    def walk(lo, hi, path):
        path = path + [(lo, hi)]
        if hi - lo == 1:
            paths[f"S{lo:03d}"] = path
        else:
            mid = (lo + hi) // 2
            walk(lo, mid, path)
            walk(mid, hi, path)

    walk(0, n, [])
    rows = []
    for a, pa in paths.items():
        for b, pb in paths.items():
            if a < b:
                common = 0
                while common < min(len(pa), len(pb)) and pa[common] == pb[common]:
                    common += 1
                rows.append((a, b, float(len(pa) - common + len(pb) - common)))
    return pd.DataFrame(rows, columns=["s1", "s2", "d"])


# -------------------------------------------------------------- lifecycle

class Lifecycle:
    """Expected tables derived once from the stored ETL parquet; `check`
    then compares one round's stored outputs with them."""

    NAMES = ["ortholog", "cluster_neighbours", "cluster_in_strain", "strain_count",
             "strain_gc_cai", "track_positions", "insertion_spans",
             "insertion_anchors", "dice", "cluster_labels", "phylo"]

    def __init__(self, etl_dir, n_strains, exact_limit):
        """`exact_limit`: the insertion count above which the analyses were
        asked for their scale branches."""
        self.n = n_strains
        self.exact_limit = exact_limit
        con = self.con = _connect()
        con.execute(f"CREATE TABLE features AS SELECT * FROM {_pq(etl_dir + '/features')}")
        con.execute(f"CREATE TABLE clusters AS SELECT * FROM {_pq(etl_dir + '/clusters')}")
        con.execute(f"CREATE TABLE edges AS SELECT * FROM {_pq(etl_dir + '/neighbour_edges')}")
        # ORTHOLOG: the exploded member lists (ids present as features), plus
        # one single-member cluster per feature no list names
        con.execute("""
            CREATE TABLE members AS
            SELECT m.cluster_id, m.feature_id FROM (
              SELECT allele_name AS cluster_id,
                     unnest(string_split(feature, ';')) AS feature_id
              FROM clusters) m
            JOIN features f ON f.Name = m.feature_id
            WHERE m.feature_id NOT IN ('0', '')""")
        con.execute("""
            CREATE TABLE ortholog AS
            SELECT cluster_id, feature_id FROM members
            UNION ALL
            SELECT Name, Name FROM features
            WHERE Name NOT IN (SELECT feature_id FROM members)""")
        con.execute("""
            CREATE TABLE neighbours AS
            SELECT o1.cluster_id AS c1, o2.cluster_id AS c2,
                   count(*)::BIGINT AS number_of_members
            FROM edges e
            JOIN ortholog o1 ON o1.feature_id = e.sourceFeature
            JOIN ortholog o2 ON o2.feature_id = e.receivingFeature
            GROUP BY ALL""")
        con.execute("""
            CREATE TABLE cluster_in_strain AS
            SELECT DISTINCT o.cluster_id, f.Strain AS strain
            FROM ortholog o JOIN features f ON f.Name = o.feature_id""")
        self._derive_strain_stats()
        con.execute("""
            CREATE TABLE core AS
            SELECT allele_name AS cluster_id FROM clusters
            WHERE number_genomes > ? * (SELECT count(DISTINCT Strain) FROM features)""",
                    [CORE_FRAC])
        con.register("tree_df", balanced_tree_distances(n_strains))
        con.execute("CREATE TABLE tree AS SELECT * FROM tree_df")
        self.n_features = con.execute("SELECT count(*) FROM features").fetchone()[0]

    def _derive_strain_stats(self):
        con = self.con
        con.execute("CREATE TABLE weights (codon VARCHAR, lnw DOUBLE)")
        con.executemany("INSERT INTO weights VALUES (?, ?)",
                        [(c, math.log(w)) for c, w in SHARP_ECOLI.items()])
        # a cluster's reference sequence (a lonely feature's own sequence;
        # else the cluster's, repaired from its reference locus if null)
        con.execute("""
            CREATE TABLE refs AS
            SELECT c.allele_name AS cluster_id, coalesce(c.Seq, f.FullSequences) AS ref
            FROM clusters c LEFT JOIN features f ON f.Name = c.reference_locus
            UNION ALL
            SELECT Name, FullSequences FROM features
            WHERE Name NOT IN (SELECT feature_id FROM members)""")
        bad = con.execute("""
            SELECT count(*) FROM features
            WHERE Variation IS NOT NULL AND Variation <> ''
              AND NOT regexp_full_match(Variation, '[0-9]+[^0-9]')""").fetchone()[0]
        # the generator writes at most one substitution per feature
        self.variation_error = (f"{bad} variations hold more than one substitution"
                                if bad else None)
        # the full sequence: the variation's one substitution applied to the
        # reference, alignment gaps removed
        con.execute("""
            CREATE TABLE seqs AS
            WITH v AS (
              SELECT f.Name, f.Strain, r.ref,
                     CASE WHEN f.Variation IS NULL OR f.Variation = '' THEN NULL
                          ELSE CAST(regexp_extract(f.Variation, '^([0-9]+)', 1) AS BIGINT) END AS idx,
                     regexp_extract(f.Variation, '([^0-9])$', 1) AS base
              FROM features f
              JOIN ortholog o ON o.feature_id = f.Name
              JOIN refs r ON r.cluster_id = o.cluster_id
              WHERE f.FeatureType = 'CDS')
            SELECT Name, Strain, replace(
              CASE WHEN idx IS NULL OR idx >= length(ref) THEN ref
                   ELSE substr(ref, 1, idx) || base || substr(ref, idx + 2) END,
              '-', '') AS s
            FROM v""")
        # GC and CAI once per distinct sequence
        con.execute("""
            CREATE TABLE dseqs AS
            SELECT s, row_number() OVER () AS k,
                   CASE WHEN length(s) > 0 THEN 100.0 * (length(s) - length(
                     replace(replace(replace(replace(replace(replace(
                       s, 'G', ''), 'C', ''), 'S', ''), 'g', ''), 'c', ''), 's', '')))
                     / length(s) END AS gc
            FROM (SELECT DISTINCT s FROM seqs)""")
        con.execute("""
            CREATE TABLE metrics AS
            WITH c AS (
              SELECT k, upper(substr(s, i * 3 + 1, 3)) AS codon
              FROM (SELECT k, s, unnest(range(0, length(s) // 3)) AS i FROM dseqs)),
            agg AS (
              SELECT c.k,
                     count(*) FILTER (WHERE w.codon IS NULL
                                      AND c.codon NOT IN ('TGA', 'TAA', 'TAG')) AS n_bad,
                     count(*) FILTER (WHERE w.codon IS NOT NULL
                                      AND c.codon NOT IN ('ATG', 'TGG')) AS n,
                     sum(w.lnw) FILTER (WHERE c.codon NOT IN ('ATG', 'TGG')) AS lsum
              FROM c LEFT JOIN weights w ON w.codon = c.codon
              GROUP BY c.k)
            SELECT d.s, d.gc,
                   CASE WHEN length(d.s) = 0 THEN 1.0
                        WHEN length(d.s) % 3 <> 0 OR agg.n_bad > 0 THEN NULL
                        WHEN coalesce(agg.n, 0) = 0 THEN 1.0
                        WHEN agg.n = 1 THEN NULL
                        ELSE exp(agg.lsum / (agg.n - 1)) END AS cai
            FROM dseqs d LEFT JOIN agg ON agg.k = d.k""")
        con.execute("""
            CREATE TABLE strain_stats AS
            SELECT q.Strain AS name, avg(m.gc) AS avg_GC, stddev_samp(m.gc) AS stDev_GC,
                   avg(m.cai) AS avg_CAI, stddev_samp(m.cai) AS stDev_CAI
            FROM seqs q JOIN metrics m ON m.s = q.s
            GROUP BY q.Strain""")

    # -- one round

    def check(self, rnd_dir):
        """{check name: None or the reason it failed} for one round."""
        con = self.con
        paths = {
            "ortholog": f"{rnd_dir}/graph/ortholog",
            "neighbours": f"{rnd_dir}/graph/cluster_neighbours",
            "cis": f"{rnd_dir}/graph/cluster_in_strain",
            "strains": f"{rnd_dir}/graph/strains",
            "estrains": f"{rnd_dir}/enriched/strains",
            "track": f"{rnd_dir}/track",
            "rgps": f"{rnd_dir}/rgps",
            "dice": f"{rnd_dir}/insertionDice",
            "labels": f"{rnd_dir}/insertionClusters",
            "phylo": f"{rnd_dir}/anchorPhylo",
        }
        out = {}
        for name in self.NAMES:
            try:
                out[name] = getattr(self, "_" + name)(paths)
            except Exception as e:  # noqa: BLE001 - a check that cannot run fails
                out[name] = f"check raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
        return out

    def _ortholog(self, p):
        a, b = _multiset_diff(self.con,
                              f"SELECT feature_id, cluster_id FROM {_pq(p['ortholog'])}",
                              "SELECT feature_id, cluster_id FROM ortholog")
        if a or b:
            return f"ORTHOLOG differs from the re-derivation: {a} extra, {b} missing rows"
        n, nd = self.con.execute(
            f"SELECT count(*), count(DISTINCT feature_id) FROM {_pq(p['ortholog'])}").fetchone()
        if not n == nd == self.n_features:
            return f"{n} ORTHOLOG rows over {nd} features, expected one per each of {self.n_features}"
        return None

    def _cluster_neighbours(self, p):
        a, b = _multiset_diff(
            self.con,
            f"SELECT c1, c2, number_of_members FROM {_pq(p['neighbours'])}",
            "SELECT c1, c2, number_of_members FROM neighbours")
        return f"NEIGHBOUR multiset differs: {a} extra, {b} missing" if a or b else None

    def _cluster_in_strain(self, p):
        a, b = _multiset_diff(self.con,
                              f"SELECT cluster_id, strain FROM {_pq(p['cis'])}",
                              "SELECT cluster_id, strain FROM cluster_in_strain")
        return f"CLUSTER_IN_STRAIN differs: {a} extra, {b} missing" if a or b else None

    def _strain_count(self, p):
        exp, g, e = self.con.execute(
            f"SELECT (SELECT count(DISTINCT Strain) FROM features),"
            f"       (SELECT count(*) FROM {_pq(p['strains'])}),"
            f"       (SELECT count(*) FROM {_pq(p['estrains'])})").fetchone()
        return None if exp == g == e else f"strain count {g} (graph), {e} (enriched), expected {exp}"

    def _strain_gc_cai(self, p):
        if self.variation_error:
            return self.variation_error
        df = self.con.execute(f"""
            SELECT x.name, x.avg_GC, s.avg_GC, x.stDev_GC, s.stDev_GC,
                   x.avg_CAI, s.avg_CAI, x.stDev_CAI, s.stDev_CAI
            FROM strain_stats x FULL JOIN {_pq(p['estrains'])} s ON s.name = x.name""").fetchall()
        if len(df) != self.n:
            return f"{len(df)} strain rows, expected {self.n}"
        for row in df:
            for i in range(1, 9, 2):
                exp, got = row[i], row[i + 1]
                if exp is None or got is None or not math.isclose(exp, got, rel_tol=1e-9,
                                                                  abs_tol=1e-12):
                    return f"strain {row[0]}: statistic {i // 2} is {got}, re-derived {exp}"
        return None

    def _track_positions(self, p):
        bad = self.con.execute(f"""
            WITH t AS (SELECT Strain, count(*) AS n, count(DISTINCT position) AS nd,
                              min(position) AS lo, max(position) AS hi
                       FROM {_pq(p['track'])} GROUP BY Strain),
                 f AS (SELECT Strain, count(*) AS n FROM features GROUP BY Strain)
            SELECT count(*) FROM f FULL JOIN t ON t.Strain = f.Strain
            WHERE t.n IS DISTINCT FROM f.n OR t.nd <> t.n OR t.lo <> 1 OR t.hi <> t.n
        """).fetchone()[0]
        return f"{bad} strains whose positions are not dense 1..n" if bad else None

    def _insertion_spans(self, p):
        n, bad = self.con.execute(f"""
            SELECT count(*), count(*) FILTER (WHERE NOT (
                     pos2 - pos1 BETWEEN {MIN_EDGES} AND {MAX_EDGES}
                     AND InsertionNbFeatures = pos2 - pos1 - 1
                     AND len(InsertionListClusterID) = InsertionNbFeatures))
            FROM {_pq(p['rgps'])}""").fetchone()
        if n <= self.exact_limit:
            return f"{n} insertions: too few for the analyses' scale branches"
        return f"{bad} of {n} insertions break the span bounds" if bad else None

    def _insertion_anchors(self, p):
        bad = self.con.execute(f"""
            SELECT count(*) FROM {_pq(p['rgps'])} r
            LEFT JOIN ortholog a1 ON a1.feature_id = r.anchor1
            LEFT JOIN ortholog a2 ON a2.feature_id = r.anchor2
            WHERE len(r.InsertionListMobileNames) = 0
               OR NOT list_bool_and(list_transform(r.InsertionListMobileNames,
                    x -> x LIKE '%integrase%' OR x LIKE '%transposase%'))
               OR r.c1 NOT IN (SELECT cluster_id FROM core)
               OR r.c2 NOT IN (SELECT cluster_id FROM core)
               OR a1.cluster_id IS DISTINCT FROM r.c1
               OR a2.cluster_id IS DISTINCT FROM r.c2
               OR r.p_GC IS NULL OR r.p_GC < 0 OR r.p_GC > 1 OR isnan(r.p_GC)
               OR r.p_CAI IS NULL OR r.p_CAI < 0 OR r.p_CAI > 1 OR isnan(r.p_CAI)
        """).fetchone()[0]
        return f"{bad} insertions lack a mobile gene, a core anchor or a p-value in [0, 1]" \
            if bad else None

    def _sets(self, p):
        return f"""SELECT concat_ws('|', Strain, pos1, pos2) AS iid,
                          list_distinct(InsertionListClusterID) AS cset
                   FROM {_pq(p['rgps'])}"""

    def _dice(self, p):
        n, bad = self.con.execute(f"""
            WITH s AS ({self._sets(p)})
            SELECT count(*), count(*) FILTER (WHERE a.iid IS NULL OR b.iid IS NULL
                OR d.dice < {MIN_DICE}
                OR abs(d.dice - 2.0 * len(list_intersect(a.cset, b.cset))
                                / (len(a.cset) + len(b.cset))) > 1e-12)
            FROM {_pq(p['dice'])} d
            LEFT JOIN s a ON a.iid = d.i1 LEFT JOIN s b ON b.iid = d.i2""").fetchone()
        if n == 0:
            return "no Dice pairs: the check would prove nothing"
        return f"{bad} of {n} Dice values wrong or below {MIN_DICE}" if bad else None

    def _cluster_labels(self, p):
        con = self.con
        a, b = _multiset_diff(con, f"SELECT id FROM {_pq(p['labels'])}",
                              f"SELECT iid FROM ({self._sets(p)})")
        if a or b:
            return f"labels: {a} rows for no insertion or twice, {b} insertions unlabelled"
        split = con.execute(f"""
            WITH s AS ({self._sets(p)})
            SELECT count(*) FROM (
              SELECT list_sort(s.cset) AS k FROM s JOIN {_pq(p['labels'])} l ON l.id = s.iid
              GROUP BY k HAVING count(DISTINCT l.label) > 1)""").fetchone()[0]
        return f"{split} identical cluster sets carry more than one label" if split else None

    def _phylo(self, p):
        df = self.con.execute(f"""
            WITH g AS (SELECT DISTINCT c1, c2, Strain FROM {_pq(p['rgps'])}),
            e AS (
              SELECT a.c1, a.c2, count(*) AS n, min(t.d) AS lo, avg(t.d) AS mean,
                     max(t.d) AS hi
              FROM g a JOIN g b ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.Strain < b.Strain
              JOIN tree t ON t.s1 = a.Strain AND t.s2 = b.Strain
              GROUP BY a.c1, a.c2),
            k AS (SELECT c1, c2, count(*) AS k FROM g GROUP BY c1, c2)
            SELECT count(*),
                   count(*) FILTER (WHERE e.c1 IS NULL OR o.c1 IS NULL
                     OR o.n_distances <> e.n OR e.n <> k.k * (k.k - 1) / 2
                     OR o.min_distance <> e.lo OR o.max_distance <> e.hi
                     OR abs(o.mean_distance - e.mean) > 1e-9)
            FROM e FULL JOIN {_pq(p['phylo'])} o ON o.c1 = e.c1 AND o.c2 = e.c2
            LEFT JOIN k ON k.c1 = coalesce(e.c1, o.c1) AND k.c2 = coalesce(e.c2, o.c2)
        """).fetchone()
        n, bad = df
        if n == 0:
            return "no anchor group spans two strains: the check would prove nothing"
        return f"{bad} of {n} anchor groups differ from the tree's distances" if bad else None


# ------------------------------------------------------------- query suite

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(spark_df, duck_df):
    """None if equal as tools/check_oracle.py compares them, else why not."""
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"column names differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ana, bna = av.isna(), bv.isna()
            if not (ana == bna).all():
                return f"column {c}: null placement differs"
            x = av[~ana].to_numpy(dtype=float)
            y = bv[~bna].to_numpy(dtype=float)
            if not np.array_equal(x, y):
                i = int(np.argmax(x != y))
                return f"column {c}: {x[i]!r} vs oracle {y[i]!r}"
        else:
            eq = av.astype(str).fillna("<NA>") == bv.astype(str).fillna("<NA>")
            if not eq.all():
                i = int(eq.idxmin())
                return f"column {c} row {i}: {av[i]!r} vs oracle {bv[i]!r}"
    return None


def read_stored(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no stored result under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


class Suite:
    """Oracle results computed once per run; `check` compares one stored
    result with its oracle."""

    def __init__(self, data_dir, oracle_sql):
        self.con = _connect()
        # loaded once per run, so each oracle reads memory, not parquet
        for t in TABLES:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = oracle_sql
        self.expected = {}

    def check(self, query, stored_dir):
        try:
            if query not in self.expected:
                if query not in self.sql:
                    return "no oracle"
                self.expected[query] = self.con.execute(self.sql[query]).fetchdf()
            return compare(read_stored(stored_dir), self.expected[query])
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            return f"check raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
