"""The fourteen documented query shapes over the seven views, each paired
with its expected answer computed from the corpus model (``corpus.Row``).

A shape is ``(name, kind, sql, expected)`` where ``kind`` is ``json`` when
the query extracts members from a JSON column and ``scalar`` otherwise, and
``expected(rows)`` returns the sorted result tuples the SQL must produce,
given ``rows(table) -> list[Row]``.
"""

from __future__ import annotations

from collections import Counter


def _sorted(counter: Counter) -> list[tuple]:
    return sorted(counter.items(), key=lambda kv: tuple(str(x) for x in kv))


def _one(n: int) -> list[tuple]:
    return [(n,)]


def _res(rows):
    return rows("terraform_resource")


def _buckets(rows):
    return [r for r in _res(rows) if r.type == "aws_s3_bucket"]


SHAPES = [
    ("eq_filter", "scalar",
     "SELECT count(*) FROM terraform_resource WHERE type = 'aws_iam_role'",
     lambda rows: _one(sum(r.type == "aws_iam_role" for r in _res(rows)))),
    ("in_list", "scalar",
     "SELECT type, count(*) FROM terraform_resource "
     "WHERE type IN ('aws_s3_bucket', 'aws_instance') GROUP BY type",
     lambda rows: _sorted(Counter(r.type for r in _res(rows)
                                  if r.type in ("aws_s3_bucket", "aws_instance")))),
    ("json_extract", "json",
     "SELECT get_json_object(attributes_std, '$.tags.env') AS env, count(*) "
     "FROM terraform_resource GROUP BY 1",
     lambda rows: _sorted(Counter(r.env for r in _res(rows)))),
    ("json_nested", "json",
     "SELECT count(*) FROM terraform_resource WHERE type = 'aws_iam_role' AND "
     "get_json_object(get_json_object(attributes_std, '$.assume_role_policy'), "
     "'$.Statement[0].Effect') = 'Allow'",
     lambda rows: _one(sum(r.effect == "Allow" for r in _res(rows)))),
    ("bool_case", "json",
     "SELECT sum(CASE WHEN coalesce(CAST(get_json_object(attributes_std, "
     "'$.force_destroy') AS BOOLEAN), false) THEN 1 ELSE 0 END) "
     "FROM terraform_resource WHERE type = 'aws_s3_bucket'",
     lambda rows: _one(sum(r.force_destroy is True for r in _buckets(rows)))),
    ("json_is_null", "json",
     "SELECT count(*) FROM terraform_resource WHERE type = 'aws_s3_bucket' "
     "AND get_json_object(attributes_std, '$.kms_key_id') IS NULL",
     lambda rows: _one(sum(not r.kms for r in _buckets(rows)))),
    ("like_json_text", "scalar",
     "SELECT count(*) FROM terraform_output WHERE value LIKE '%aws_s3_bucket.%.arn%'",
     lambda rows: _one(sum(r.arn_ref for r in rows("terraform_output")))),
    ("ilike", "scalar",
     "SELECT count(*) FROM terraform_local WHERE name ILIKE 'owner'",
     lambda rows: _one(sum((r.local_name or "").lower() == "owner"
                           for r in rows("terraform_local")))),
    ("regex", "scalar",
     "SELECT count(*) FROM terraform_module WHERE version RLIKE '^[0-9]'",
     lambda rows: _one(sum(bool(r.version) and r.version[0].isdigit()
                           for r in rows("terraform_module")))),
    ("split_part", "scalar",
     "SELECT split_part(module_source, '=', -1) AS ref, count(*) FROM terraform_module "
     "WHERE module_source LIKE '%?ref=%' GROUP BY 1",
     lambda rows: _sorted(Counter(r.module_ref for r in rows("terraform_module")
                                  if r.module_ref))),
    ("cte_lateral", "json",
     "WITH o AS (SELECT explode(from_json(get_json_object(arguments, '$.owners'), "
     "'array<string>')) AS owner FROM terraform_data_source) "
     "SELECT owner, count(*) FROM o GROUP BY owner",
     lambda rows: _sorted(Counter(o for r in rows("terraform_data_source") for o in r.owners))),
    ("json_render", "json",
     "SELECT count(*) FROM terraform_provider WHERE to_json(named_struct('region', "
     "get_json_object(arguments, '$.region'))) = '{\"region\":\"us-east-1\"}'",
     lambda rows: _one(sum(r.region == "us-east-1" for r in rows("terraform_provider")))),
    ("bare_bool", "scalar",
     "SELECT count(*) FROM terraform_output WHERE sensitive",
     lambda rows: _one(sum(r.sensitive for r in rows("terraform_output")))),
    ("not_json_bool", "json",
     "SELECT count(*) FROM terraform_resource WHERE type = 'aws_s3_bucket' AND "
     "NOT CAST(get_json_object(attributes_std, '$.force_destroy') AS BOOLEAN)",
     lambda rows: _one(sum(r.force_destroy is False for r in _buckets(rows)))),
]


def normalize(result_rows) -> list[tuple]:
    """Spark rows -> sorted tuples, comparable with an expected answer."""
    return sorted((tuple(r) for r in result_rows), key=lambda t: tuple(str(x) for x in t))
