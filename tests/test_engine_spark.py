"""End-to-end engine tests: discovery → mapInPandas parse (local files are
read inside the parse task; binaryFile lists and reads only remote URLs) →
seven views → documented example queries via spark.sql (SURVEY.md §2.10).
"""

import json

import pytest

from steampipe_plugin_terraform_spark import TerraformEngine


@pytest.fixture(scope="module")
def engine(spark, fixtures_dir):
    eng = TerraformEngine(
        spark,
        config_paths=[str(fixtures_dir / "config" / "*.tf")],
        plan_paths=[str(fixtures_dir / "plan" / "*.json")],
        state_paths=[str(fixtures_dir / "state" / "*.tfstate")],
    )
    eng.register_views()
    yield eng
    eng.unpersist()


def test_all_tables_materialize(engine):
    counts = {name: df.count() for name, df in engine.tables().items()}
    assert counts == {
        "terraform_resource": 3 + 2 + 3,  # config + plan + state rows
        "terraform_data_source": 1,
        "terraform_provider": 2,
        "terraform_module": 1,
        "terraform_output": 1 + 1,  # config + state
        "terraform_local": 3,
        "terraform_variable": 1,
    }


def test_declared_column_order(engine):
    df = engine.table("terraform_resource")
    assert df.columns == [
        "name", "type", "mode", "address", "arguments", "attributes",
        "attributes_std", "count", "count_src", "for_each", "depends_on",
        "lifecycle", "provider", "start_line", "end_line", "source", "path",
    ]


def test_equality_filter(spark, engine):
    # docs/tables/terraform_resource.md:56
    rows = spark.sql(
        "select name, count from terraform_resource where type = 'aws_instance' and mode is null"
    ).collect()
    assert [(r["name"], r["count"]) for r in rows] == [("app_server", 2)]


def test_json_member_extract(spark, engine):
    # docs/tables/terraform_resource.md:81,108 → get_json_object
    rows = spark.sql(
        """
        select name, get_json_object(arguments, '$.tags.Name') as tag_name
        from terraform_resource
        where get_json_object(arguments, '$.tags.Name') is not null
        """
    ).collect()
    assert [(r["name"], r["tag_name"]) for r in rows] == [("app_server", "ExampleAppServerInstance")]


def test_bare_boolean_filter(spark, engine):
    # docs/tables/terraform_output.md:58 — `where sensitive`
    rows = spark.sql("select name from terraform_output where sensitive").collect()
    assert [r["name"] for r in rows] == ["bucket_arn"]


def test_lateral_json_array_expansion(spark, engine):
    # docs/tables/terraform_data_source.md:71-89 (jsonb_array_elements analog)
    rows = spark.sql(
        """
        with filters as (
          select name,
                 explode(from_json(get_json_object(arguments, '$.filter'), 'array<string>')) as f
          from terraform_data_source
        )
        select name, get_json_object(f, '$.name') as filter_name from filters
        """
    ).collect()
    assert sorted(r["filter_name"] for r in rows) == ["name", "virtualization-type"]


def test_ilike_and_rlike(spark, engine):
    # docs/tables/terraform_local.md:50 (ilike); terraform_module.md:57 (~)
    rows = spark.sql("select name from terraform_local where name ilike 'OWNER'").collect()
    assert [r["name"] for r in rows] == ["owner"]
    rows = spark.sql(
        "select name from terraform_module where split_part(version, '.', -1) rlike '^[0-9]'"
    ).collect()
    assert [r["name"] for r in rows] == ["vpc"]


def test_path_qual(spark, engine, fixtures_dir):
    state_path = str(fixtures_dir / "state" / "terraform.tfstate")
    df = engine.table("terraform_resource", path=state_path)
    assert df.count() == 3
    assert set(r["path"] for r in df.collect()) == {state_path}


def test_path_qual_cold_engine(spark, fixtures_dir):
    # the path= fast path builds from exactly one file (utils.go:45-58)
    state_path = str(fixtures_dir / "state" / "terraform.tfstate")
    eng = TerraformEngine(spark, path_qual=state_path, cache=False)
    assert eng.files == [(state_path, "state")]
    assert eng.table("terraform_output").count() == 1


def test_missing_path_tolerated(spark):
    eng = TerraformEngine(spark, config_paths=["/does/not/exist/*.tf"], cache=False)
    assert eng.table("terraform_resource").count() == 0


def test_on_error_fail_names_file(spark, tmp_path):
    (tmp_path / "bad.tf").write_text('resource "x" {{{ not hcl')
    (tmp_path / "good.tf").write_text('output "o" { value = 1 }\n')
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")], cache=False)
    with pytest.raises(Exception, match="failed to parse file .*bad.tf"):
        eng.table("terraform_output").collect()


def test_on_error_skip_keeps_good_files(spark, tmp_path):
    (tmp_path / "bad.tf").write_text('resource "x" {{{ not hcl')
    (tmp_path / "good.tf").write_text('output "o" { value = 1 }\n')
    eng = TerraformEngine(
        spark, config_paths=[str(tmp_path / "*.tf")], on_error="skip", cache=False
    )
    rows = eng.table("terraform_output").collect()
    assert [(r["name"], r["path"]) for r in rows] == [("o", str(tmp_path / "good.tf"))]


def test_file_vanished_before_ingest_yields_zero_rows(spark, tmp_path):
    # discovered, then deleted before the parse task reads it: zero rows and
    # no error, like a missing glob path (utils.go:87-90)
    (tmp_path / "a.tf").write_text('resource "r" "x" { n = 1 }\n')
    (tmp_path / "b.tf").write_text('resource "r" "y" { n = 1 }\n')
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    assert len(eng.files) == 2
    (tmp_path / "b.tf").unlink()
    rows = eng.table("terraform_resource").collect()
    assert [r["path"] for r in rows] == [str(tmp_path / "a.tf")]
    eng.unpersist()


def test_local_ingest_starts_no_listing_job(spark, tmp_path):
    # a binaryFile read of more explicit files than
    # spark.sql.sources.parallelPartitionDiscovery.threshold (1,030 exceeds
    # any value up to 1,024) launches a one-task-per-path listing job; the
    # discovered list is the scan instead, so building the lineage starts
    # no job at all
    for i in range(1030):
        (tmp_path / f"f{i}.tf").write_text(f'locals {{ v{i} = {i} }}\n')
    sc = spark.sparkContext
    sc.setJobGroup("tf-no-listing", "engine construction and wide()")
    try:
        eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
        wide = eng.wide()
        assert sc.statusTracker().getJobIdsForGroup("tf-no-listing") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert wide.filter("tf_table = 'terraform_local'").count() == 1030
    assert wide.rdd.getNumPartitions() <= sc.defaultParallelism
    eng.unpersist()


def test_plan_routing_matrix(spark, engine, fixtures_dir):
    # plan files feed ONLY terraform_resource (SURVEY §1.4)
    plan_path = str(fixtures_dir / "plan" / "tfplan.json")
    for t in ["terraform_variable", "terraform_output", "terraform_local",
              "terraform_provider", "terraform_module", "terraform_data_source"]:
        assert engine.table(t).filter(f"path = '{plan_path}'").count() == 0


def test_state_address_explosion(spark, engine):
    rows = spark.sql(
        """
        select address, get_json_object(attributes_std, '$.id') as id
        from terraform_resource
        where path like '%.tfstate' and type = 'aws_instance'
        order by address
        """
    ).collect()
    assert [(r["address"], r["id"]) for r in rows] == [
        ("aws_instance.app_server[0]", "i-0123"),
        ("aws_instance.app_server[1]", "i-0456"),
    ]


def test_no_shuffle_in_table_scan(engine):
    # the parse pipeline must stay narrow (SURVEY §4): no Exchange operator
    plan = engine.table("terraform_resource")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_in_list_filter(spark, engine):
    # docs/tables/terraform_resource.md:239 — type in (…)
    rows = spark.sql(
        """
        select type, count(*) as n from terraform_resource
        where type in ('aws_instance', 'aws_s3_bucket') group by type
        """
    ).collect()
    assert {(r["type"], r["n"]) for r in rows} == {("aws_instance", 5), ("aws_s3_bucket", 2)}


def test_boolean_cast_with_default_case(spark, engine):
    # docs/tables/terraform_resource.md:164-174 — CASE over a JSON bool with
    # default-on-null
    rows = spark.sql(
        """
        select name,
               case when get_json_object(lifecycle, '$.create_before_destroy') is null then 'default'
                    when cast(get_json_object(lifecycle, '$.create_before_destroy') as boolean) then 'cbd'
                    else 'no-cbd' end as policy
        from terraform_resource where mode is null and path like '%.tf'
        """
    ).collect()
    assert {(r["name"], r["policy"]) for r in rows} == {
        ("app_server", "cbd"), ("b", "default"), ("empty", "default"),
    }


def test_is_null_predicate_on_json_member(spark, engine):
    # docs/tables/terraform_resource.md:141 — attributes_std -> 'x' is null
    rows = spark.sql(
        """
        select name from terraform_resource
        where type = 'aws_instance' and mode is null
          and get_json_object(attributes_std, '$.kms_key_id') is null
        """
    ).collect()
    assert [r["name"] for r in rows] == ["app_server"]


def test_like_on_json_value_text(spark, engine):
    # docs/tables/terraform_output.md:85 — value::text like '%aws_s3_bucket.%'
    rows = spark.sql(
        "select name from terraform_output where value like '%aws_s3_bucket.%.arn%'"
    ).collect()
    assert [r["name"] for r in rows] == ["bucket_arn"]


def test_not_boolean_json_member(spark, engine):
    # docs/tables/terraform_resource.md:207 — and not (…)::boolean
    rows = spark.sql(
        """
        select name from terraform_resource
        where mode is null and path like '%.tf'
          and not coalesce(cast(get_json_object(lifecycle, '$.create_before_destroy') as boolean), false)
        """
    ).collect()
    assert sorted(r["name"] for r in rows) == ["b", "empty"]


def test_variable_validation_and_type_columns(spark, engine):
    # docs/tables/terraform_variable.md — type stripped from ${…}; validation text
    rows = spark.sql(
        "select name, type, validation from terraform_variable where validation is not null"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["type"] == "string"
    assert rows[0]["validation"].startswith("validation {")


def test_variant_json_columns(spark, engine, fixtures_dir):
    # Spark 4 VariantType surface: typed access without string re-parsing
    eng = TerraformEngine(
        spark, config_paths=[str(fixtures_dir / "config" / "*.tf")], cache=False
    )
    df = eng.table("terraform_resource", json_as="variant")
    assert str(df.schema["arguments"].dataType) == "VariantType()"
    df.createOrReplaceTempView("tf_res_variant")
    rows = spark.sql(
        """
        select name, variant_get(arguments, '$.tags.Name', 'string') as tag
        from tf_res_variant where variant_get(arguments, '$.tags.Name', 'string') is not null
        """
    ).collect()
    assert [(r["name"], r["tag"]) for r in rows] == [("app_server", "ExampleAppServerInstance")]


def test_variant_bad_mode_rejected(spark, engine):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="json_as"):
        engine.table("terraform_resource", json_as="nope")


def test_canonical_store_roundtrip(spark, engine, tmp_path):
    store = str(tmp_path / "canonical")
    engine.save_canonical(store)
    loaded = TerraformEngine.load_canonical(spark, store)
    for t in ["terraform_resource", "terraform_output", "terraform_local"]:
        assert loaded.table(t).count() == engine.table(t).count()
    # values survive the round trip, not just counts
    a = sorted((r["address"], r["count"]) for r in engine.table("terraform_resource").collect())
    b = sorted((r["address"], r["count"]) for r in loaded.table("terraform_resource").collect())
    assert a == b
