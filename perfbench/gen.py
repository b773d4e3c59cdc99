"""Seeded input generation for the benchmark workloads.

The base tables (the synthetic TPC-H-like test tables) come from the repo's own
``scripts/gen_sf.py``, imported unmodified; the workload seed is folded
into every hash salt it uses, so the same seed gives the same bytes and
another seed gives other tables of the same shape. Each workload's
inputs are then derived in DuckDB, in the shapes of the registered
queries whose oracles check the outputs:

  daily_batch  blobs.parquet      raw offer blobs, q104's recipe over ``orders``
               cv_backlog/        JSON-lines CV envelopes, q105's recipe over
                                  ``customer`` (four files, the drained backlog)
  pairs        offers.parquet     offer fact rows, q50's derivation from ``part``
               cvs.parquet        CV fact rows, q50's derivation from
                                  ``customer`` + ``orders`` + ``lineitem``
               documents.parquet  the ``documents`` table itself

Each base table has its own scale factor (``SIZES``). Everything lands in
one directory per (workload, seed, sizes), reused when it already holds a
complete set.
"""
import contextlib
import importlib.util
import json
import os
import re
import shutil
import sys
import types

import duckdb

# Offer sources in q104's priority catalog order (PipelineOps.Sources).
SOURCES = ["educarriere", "macarrierepro", "emploi_ci", "linkedin"]
# q105's corpus lists (CvOps).
CITIES = ["Abidjan", "Daloa", "Korhogo"]
EDU = ["doctorat", "bac+5", "licence", "bts"]
CONTRACTS = ["cdi", "cdd", "stage", "freelance", "alternance"]

# gen_sf scale factor of each base table, per workload. Tables one
# oracle joins share a scale factor (q50's CVs join customer, orders,
# lineitem and part by key).
SIZES = {
    "daily_batch": {"orders": 0.01, "customer": 0.04},
    "pairs": {"part": 0.02, "customer": 0.02, "orders": 0.02, "lineitem": 0.02,
              "documents": 0.02},
}
BASE_TABLES = {w: sorted(t) for w, t in SIZES.items()}


def lit(s):
    return "'" + s.replace("'", "''") + "'"


def lits(vals):
    return "[" + ", ".join(lit(v) for v in vals) + "]"


def seed_salt(seed):
    """Offset added to every gen_sf salt: a multiple of 100, so the
    table salts (all below 100) stay distinct within one seed."""
    return (seed % 1_000_003) * 100


class _OnlyTables:
    """A DuckDB connection that runs gen_sf's COPY for the wanted tables
    only (and answers its row-count read-back for the others with 0)."""

    def __init__(self, wanted):
        self.con = duckdb.connect()
        self.wanted = wanted

    def execute(self, sql):
        m = re.search(r"/(\w+)\.parquet'", sql)
        return self if m and m.group(1) not in self.wanted else self.con.execute(sql)

    def fetchone(self):
        return (0,)


def base_tables(repo, out, sf, seed, wanted):
    """Write gen_sf's `wanted` tables at `sf`, the seed folded into its salts."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo, "scripts", "gen_sf.py"))
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    unsalted = gen_sf.u
    offset = seed_salt(seed)
    # BIGINT: the salt is multiplied inside DuckDB, where an INT32
    # literal would overflow for large seeds
    gen_sf.u = lambda salt, col="i": unsalted(f"CAST({salt + offset} AS BIGINT)", col)
    gen_sf.duckdb = types.SimpleNamespace(connect=lambda: _OnlyTables(set(wanted)))
    argv = sys.argv
    sys.argv = ["gen_sf.py", repr(sf), out, "--threads", "4"]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.main()
    finally:
        sys.argv = argv


def blobs_sql(c):
    """q104's blob recipe (PipelineOps.q104), row for row."""
    title = "'Offre numero ' || (r * 10)::VARCHAR"
    company = f"{lits(c['companies'])}[(r % 4) + 1]"
    sal = """CASE WHEN m = 0 THEN '<span class="salary">salaire: ' || amt::VARCHAR || ' fcfa</span>'
                  WHEN m = 1 THEN '<span class="salary">entre ' || amt::VARCHAR || ' et '
                                  || amt2::VARCHAR || ' fcfa</span>'
                  ELSE '' END"""
    html = f"""CASE WHEN r % 3 = 0 THEN '<div><h1 class="job-title">' || {title} || '</h1>'
                      || '<div class="company-name">' || {company} || '</div>'
                      || '<span class="location">Abidjan</span>' || {sal} || '</div>'
                    WHEN r % 3 = 1 THEN '<h1>x</h1><title>' || {title} || '</title> chez '
                      || {company} || ',' || {sal} || '<span class="location">Daloa</span>'
                    ELSE '<h1 class="job-title">' || {title} || '</h1>'
                      || '<div class="employer">' || {company} || '</div>'
                      || '<span class="location">Korhogo</span>' || {sal} END"""
    desc = (f"""'<div class="description">' || {lit(c['desc_text'][0])}"""
            f" || {lits(c['skill_suffixes'])}[(j % 5) + 1] || '</div>'")
    reqs = lit('<ul class="requirements">' + c["req_text"][0] + "</ul>")
    contract = (f"CASE WHEN j % 7 = 6 THEN '' ELSE '<p>type: ' || "
                f"{lits(c['contract_markers'])}[(j % 7) + 1] || '</p>' END")
    meta = (f"""'{{"job_id": "J' || lpad(id::VARCHAR, 10, '0') || '", "source": "' || """
            f"""{lits(SOURCES)}[(j % 4) + 1] || '"}}'""")
    return f"""
        WITH base AS (
          SELECT CAST(o_orderkey AS BIGINT) AS id,
                 CAST(trunc(o_totalprice) AS BIGINT) AS amt,
                 CAST(o_orderkey AS BIGINT) // 10 AS j
          FROM orders WHERE o_orderkey % 10 = 0),
        d AS (
          SELECT id, amt, j,
                 CASE WHEN j % 12 < 2 THEN j - (j % 2) ELSE j END AS r,
                 j % 3 AS m, amt + (j % 97) * 1000 + 1000 AS amt2
          FROM base)
        SELECT {meta} || chr(10) || chr(10) || {html} || {desc} || {reqs} || {contract}
               AS value
        FROM d ORDER BY id"""


# F24 competence id (Ids.competenceId), as q50's oracle writes it.
def comp_id(e):
    return f"'COMP_' || substring(replace(replace(lower({e}), ' ', '_'), '-', '_'), 1, 20)"


OFFERS_SQL = f"""
    SELECT p_partkey AS offre_id,
           'LOC_' || (p_partkey % 10) AS localisation_id,
           'SECT_' || (p_partkey % 7) AS secteur_id,
           list_transform(string_split(p_name, ' '), w -> {comp_id('w')}) AS competences_ids,
           (p_partkey % 15 + 1) * 50000 AS salaire_max,
           CASE p_size % 4 WHEN 0 THEN 'Débutant' WHEN 1 THEN 'Intermédiaire'
                WHEN 2 THEN 'Senior' ELSE 'Non spécifié' END AS niveau_experience
    FROM part WHERE p_partkey % 8 = 0 ORDER BY offre_id"""

CVS_SQL = f"""
    WITH sk AS (
      SELECT o_custkey AS k, list_distinct(list({comp_id('w')})) AS comp
      FROM (SELECT o_custkey, unnest(string_split(p_name, ' ')) AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                 JOIN part ON l_partkey = p_partkey
            WHERE o_custkey % 4 = 0)
      GROUP BY o_custkey)
    SELECT c_custkey AS cv_id,
           'LOC_' || (c_custkey % 10) AS localisation_souhaitee_id,
           'SECT_' || (c_custkey % 7) AS secteur_souhaite_id,
           comp AS competences_ids,
           (c_custkey % 8 + 1) * 100000 AS salaire_souhaite,
           c_custkey % 12 AS annees_experience
    FROM customer LEFT JOIN sk ON c_custkey = k
    WHERE c_custkey % 4 = 0 ORDER BY cv_id"""


def envelopes_sql(c):
    """q105's envelope recipe (CvOps.q105), one JSON line per CV."""
    city = f"{lits(CITIES)}[(j % 3) + 1]"
    text = f"""concat_ws(chr(10),
        CASE WHEN j % 6 <> 5 THEN 'Localisation : ' || {city} END,
        CASE WHEN j % 4 <> 3 THEN (j % 25)::VARCHAR || ' ans d''expérience' END,
        CASE WHEN j % 5 < 4 THEN 'formation ' || {lits(EDU)}[(j % 5) + 1] END,
        CASE WHEN j % 6 < 5 THEN 'contrat ' || {lits(CONTRACTS)}[(j % 6) + 1] END,
        'competences' || {lits(c['skill_suffixes'])}[(j % 5) + 1],
        CASE WHEN j % 5 <> 4 THEN 'salaire souhaité: ' || ((j % 9 + 1) * 100000)::VARCHAR
             || ' fcfa' END,
        CASE WHEN j % 3 = 0 THEN 'français anglais' WHEN j % 3 = 1 THEN 'anglais espagnol' END,
        CASE WHEN j % 7 = 0 THEN 'scrum master' WHEN j % 7 = 1 THEN 'aws certified'
             WHEN j % 7 = 2 THEN 'itil' END,
        CASE WHEN j % 2 = 0 THEN 'remote ok' END,
        CASE WHEN j % 8 = 0 THEN 'disponible immédiatement' END)"""
    return f"""
        WITH base AS (
          SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_custkey AS BIGINT) // 5 AS j
          FROM customer WHERE c_custkey % 5 = 0),
        t AS (SELECT k, j, {text} AS text FROM base)
        SELECT to_json({{
          'cv_id': 'CV' || lpad(k::VARCHAR, 10, '0'),
          'scraped_at': CASE WHEN j % 11 = 7 THEN 'not-a-date'
                             ELSE '2026-02-0' || (j % 7 + 1)::VARCHAR || ' 10:30:00' END,
          'source_site': 'cvsite' || (j % 3)::VARCHAR,
          'url_cv': 'https://cv.example/' || k::VARCHAR,
          'content_type': 'pdf',
          'content_b64': CASE WHEN j % 2 = 1 THEN to_base64(encode(text)) END,
          'text_content': CASE WHEN j % 2 = 0 THEN text END}})::VARCHAR AS line
        FROM t ORDER BY k"""


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        for line in lines:
            f.write(line + "\n")


def ensure(repo, cache, workload, seed, constants):
    """Return the input directory for (workload, seed, sizes), building it
    when it is missing or incomplete."""
    sizes = SIZES[workload]
    key = f"{workload}-seed{seed}-" + "-".join(f"{t}{sf}" for t, sf in sorted(sizes.items()))
    out = os.path.join(cache, key)
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    base = os.path.join(out, "base")
    for sf in sorted(set(sizes.values())):
        base_tables(repo, base, sf, seed, [t for t, v in sizes.items() if v == sf])
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in BASE_TABLES[workload]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")

    def copy(sql, name):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")

    if workload == "daily_batch":
        copy(blobs_sql(constants), "blobs")
        lines = [r[0] for r in con.execute(envelopes_sql(constants)).fetchall()]
        os.makedirs(f"{out}/cv_backlog")
        quarter = (len(lines) + 3) // 4
        for i in range(4):
            write_lines(f"{out}/cv_backlog/part-{i:05d}.json",
                        lines[i * quarter:(i + 1) * quarter])
    elif workload == "pairs":
        copy(OFFERS_SQL, "offers")
        copy(CVS_SQL, "cvs")
        shutil.copy(f"{base}/documents.parquet", f"{out}/documents.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
    con.close()
    with open(done, "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": sizes}, f)
    return out
