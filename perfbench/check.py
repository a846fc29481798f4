"""Reference check of a run's sink outputs, computed in DuckDB from the
generated inputs and never through the engine.

* cdc_upsert: the final `LogTable.read` must equal last-write-wins plus
  tombstones over the offered changelog.
* admit_*: every offered record lands exactly once, in the verdicts or
  in the DLQ; `exact_dup` equals an md5 digest hit against the seed plus
  the docs admitted by earlier batches; DLQ `(stage, reason)` pairs
  equal the planted ones.

`check()` returns the number of failed records. Each run also checks the
checker: the same outputs with one row dropped and one verdict flipped
must fail, or the run is reported incorrect.
"""

import glob
import os

import duckdb


def _parquet(pattern):
    files = sorted(glob.glob(pattern))
    if not files:
        return None
    return "read_parquet([%s], hive_partitioning=true, union_by_name=true)" % (
        ", ".join("'%s'" % f for f in files))


def _load(con, name, pattern, empty_sql):
    src = _parquet(pattern)
    con.execute("create or replace table %s as select * from %s"
                % (name, src if src else "(%s)" % empty_sql))


def _offered_waves(con, waves):
    con.execute("create or replace table offered_waves(w int)")
    con.executemany("insert into offered_waves values (?)", [(w,) for w in waves])


# ---- cdc_upsert --------------------------------------------------------------

def _cdc_failed(con):
    return con.execute("""
      with ref as (
        select * from (
          select *, row_number() over (partition by id order by "offset" desc) rn
          from changelog where wave in (select w from offered_waves)) where rn = 1
          and not is_delete),
      got as (select id, name, qty, amount_cents,
                     epoch_ms(updated_ms) as updated_ms, ingest_tag from final)
      select count(*) from ref full outer join got using (id)
      where ref.id is null or got.id is null
         or ref.name is distinct from got.name
         or ref.qty is distinct from got.qty
         or ref.amount_cents is distinct from got.amount_cents
         or ref.updated_ms is distinct from got.updated_ms
         or got.ingest_tag is distinct from 'perfbench'
    """).fetchone()[0]


def _cdc_tamper(con):
    con.execute("""create or replace table final as
      select * exclude (qty),
             case when id = (select max(id) from final) then qty + 1 else qty end as qty
      from final where id <> (select min(id) from final)""")


# ---- admission ---------------------------------------------------------------

def _adm_failed(con):
    # expected outcome per offered record: one verdict row (clean docs) or
    # one DLQ row with the planted (stage, reason)
    return con.execute("""
      with off as (
        select * from offered where wave in (select w from offered_waves)),
      admitted_dig as (
        select v.batch, md5(o.text) as dig
        from verdicts v join off o using (doc_id) where v.admitted),
      seed_dig as (select distinct md5(text) as dig from seed),
      vcount as (select doc_id, count(*) n, any_value(batch) batch,
                        bool_or(exact_dup) exact_dup, bool_or(admitted) admitted
                 from verdicts group by doc_id),
      dlq_rows as (
        select coalesce(d.doc_id, o.doc_id) as doc_id, d.seq, d.stage, d.reason
        from dlq d left join off o on o."offset" = d.seq),
      per_rec as (
        select o.*,
          coalesce(v.n, 0) as n_verdict, v.batch, v.exact_dup, v.admitted,
          (select count(*) from dlq_rows d where d.seq = o."offset") as n_dlq,
          (select count(*) from dlq_rows d where d.seq = o."offset"
             and d.stage = o.stage and d.reason = o.reason) as n_dlq_ok
        from off o left join vcount v on v.doc_id = o.doc_id),
      judged as (
        select *,
          case when stage is not null then n_dlq = 1 and n_dlq_ok = 1 and n_verdict = 0
               else n_verdict = 1 and n_dlq = 0
                    and exact_dup = (md5(text) in (select dig from seed_dig)
                        or md5(text) in (select dig from admitted_dig a
                                         where a.batch < per_rec.batch))
                    and not (admitted and exact_dup)
          end as ok
        from per_rec)
      select (select count(*) from judged where not coalesce(ok, false))
           + (select count(*) from verdicts
              where doc_id not in (select doc_id from off where doc_id is not null))
           + (select count(*) from dlq_rows
              where seq not in (select "offset" from off))
    """).fetchone()[0]


def _adm_tamper(con):
    con.execute("""create or replace table verdicts as
      select * exclude (exact_dup),
             case when doc_id = (select max(doc_id) from verdicts)
                  then not exact_dup else exact_dup end as exact_dup
      from verdicts where doc_id <> (select min(doc_id) from verdicts)""")


# ---- entry -------------------------------------------------------------------

def check(workload, gen_root, run_root, waves, uncommitted_records):
    """(failed records, tamper self-test detected?) for one run.
    `uncommitted_records` are the offered records whose wave never
    committed; the admission check already counts each of them as
    missing, the cdc check compares keys and needs them added."""
    con = duckdb.connect()
    con.execute("set threads to 2")
    _offered_waves(con, waves)
    if workload == "cdc_upsert":
        con.execute("create table changelog as select * from read_parquet('%s')"
                    % os.path.join(gen_root, "changelog.parquet"))
        _load(con, "final", os.path.join(run_root, "final", "*.parquet"),
              "select null::bigint id, null::varchar name, null::int qty, "
              "null::bigint amount_cents, null::timestamp updated_ms, "
              "null::varchar ingest_tag where false")
        failed, tamper = _cdc_failed, _cdc_tamper
    else:
        con.execute("create table offered as select * from read_parquet('%s')"
                    % os.path.join(gen_root, "offered.parquet"))
        con.execute("create table seed as select * from read_parquet('%s')"
                    % os.path.join(gen_root, "seed", "*.parquet"))
        gate = os.path.join(run_root, "gate")
        _load(con, "verdicts", os.path.join(gate, "out", "*", "*.parquet"),
              "select null::bigint doc_id, null::bool exact_dup, "
              "null::bool admitted, null::bigint batch where false")
        _load(con, "dlq", os.path.join(gate, "dlq", "*", "*.parquet"),
              "select null::bigint doc_id, null::varchar stage, "
              "null::varchar reason, null::bigint seq where false")
        failed, tamper = _adm_failed, _adm_tamper
    extra = uncommitted_records if workload == "cdc_upsert" else 0
    n = failed(con) + extra
    tamper(con)
    detected = failed(con) + extra > n
    con.close()
    return n, detected
