"""Seeded Terraform corpus generator with answers known by construction.

``Corpus(root, seed)`` writes ``.tf`` configuration files, plan JSON files
and ``.tfstate`` files under ``root/{config,plan,state}`` and keeps a model
of every row the seven tables should hold: one ``Row`` per expected table
row, tagged with the properties the benchmark queries filter on.  Expected
per-table counts and the expected answer of every query shape are computed
from that model alone, never from the program under test.

Files can be rewritten, added and deleted (``modify``/``add``/``delete``)
so the watch workload edits the corpus while the model follows.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, replace

TABLES = (
    "terraform_resource", "terraform_data_source", "terraform_provider",
    "terraform_module", "terraform_output", "terraform_local",
    "terraform_variable",
)

_ENVS = ("prod", "staging", "dev", "test")
_OWNERS = ("self", "amazon", "aws-marketplace", "099720109477")
_REFS = ("v1.0.0", "v1.2.0", "v2.0.1", "main")
_REGIONS = ("us-east-1", "us-west-2", "eu-west-1")
_VAR_TYPES = ("string", "number", "bool", "list(string)")


@dataclass(frozen=True)
class Row:
    """One expected table row and the properties queries filter on."""

    table: str
    path: str
    type: str | None = None
    env: str | None = None          # tags.env inside attributes_std
    rev: str | None = None          # tags.rev inside attributes_std
    force_destroy: bool | None = None
    kms: bool = False               # kms_key_id present
    effect: str | None = None       # assume_role_policy Statement[0].Effect
    arn_ref: bool = False           # output value names an s3 bucket arn
    sensitive: bool = False
    local_name: str | None = None
    version: str | None = None
    module_ref: str | None = None   # split_part(module_source, '=', -1)
    owners: tuple = ()
    region: str | None = None


def _q(s: str) -> str:
    return json.dumps(s)


def _hcl_value(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, str):
        return _q(v)
    if isinstance(v, list):
        return "[" + ", ".join(_hcl_value(x) for x in v) + "]"
    raise TypeError(type(v))


def _hcl_map(m: dict, indent: str) -> list[str]:
    out = ["{"]
    for k, v in m.items():
        out.append(f"{indent}  {k} = {_hcl_value(v)}")
    out.append(indent + "}")
    return out


class Corpus:
    """A generated corpus on disk plus its row model."""

    def __init__(self, root: str, seed: int, n_config: int, n_plan: int,
                 n_state: int, n_large_state: int = 0):
        self.root = os.path.abspath(root)
        self.rng = random.Random(seed)
        self.rows: dict[str, list[Row]] = {}  # path -> expected rows
        self._serial = 0
        for kind in ("config", "plan", "state"):
            os.makedirs(os.path.join(self.root, kind), exist_ok=True)
        for _ in range(n_config):
            self.add("config")
        for _ in range(n_plan):
            self.add("plan")
        for i in range(n_state):
            self.add("state", large=i < n_large_state)

    # -- engine arguments --

    @property
    def globs(self) -> dict[str, list[str]]:
        return {
            "config_paths": [os.path.join(self.root, "config", "*.tf")],
            "plan_paths": [os.path.join(self.root, "plan", "*.json")],
            "state_paths": [os.path.join(self.root, "state", "*.tfstate")],
        }

    def paths(self, kind: str | None = None) -> list[str]:
        return sorted(p for p in self.rows if kind is None or _kind(p) == kind)

    # -- edits --

    def add(self, kind: str, large: bool = False) -> str:
        self._serial += 1
        ext = {"config": ".tf", "plan": ".tfplan.json", "state": ".tfstate"}[kind]
        path = os.path.join(self.root, kind, f"f{self._serial:05d}{ext}")
        self._write(path, kind, rev=0, large=large)
        return path

    def modify(self, path: str) -> None:
        rev = max((int(r.rev) for r in self.rows[path] if r.rev is not None), default=0) + 1
        self._write(path, _kind(path), rev=rev, large=False)

    def delete(self, path: str) -> None:
        os.remove(path)
        del self.rows[path]

    def _write(self, path: str, kind: str, rev: int, large: bool) -> None:
        tag = os.path.basename(path).split(".")[0]
        text, rows = {"config": self._config, "plan": self._plan, "state": self._state}[kind](
            path, tag, rev, large
        )
        with open(path, "w") as f:
            f.write(text)
        self.rows[path] = rows

    # -- expected answers --

    def table_counts(self) -> dict[str, int]:
        c = Counter(r.table for rows in self.rows.values() for r in rows)
        return {t: c.get(t, 0) for t in TABLES}

    def file_table_count(self, path: str, table: str) -> int:
        return sum(1 for r in self.rows.get(path, ()) if r.table == table)

    def all_rows(self, table: str) -> list[Row]:
        return [r for rows in self.rows.values() for r in rows if r.table == table]

    # -- file builders: each returns (text, expected rows) --

    def _resource_props(self, rtype: str, rev: int) -> tuple[dict, Row]:
        """Attributes shared by all three file kinds for one resource."""
        rng = self.rng
        attrs: dict = {}
        env = rng.choice(_ENVS) if rng.random() < 0.85 else None
        fd = None
        kms = False
        effect = None
        if rtype == "aws_s3_bucket":
            if rng.random() < 0.7:
                fd = rng.random() < 0.5
                attrs["force_destroy"] = fd
            if rng.random() < 0.4:
                kms = True
                attrs["kms_key_id"] = f"arn:aws:kms:us-east-1:123456789012:key/{rng.randrange(10**8):08d}"
            attrs["acl"] = rng.choice(("private", "public-read"))
        elif rtype == "aws_iam_role":
            effect = rng.choice(("Allow", "Deny"))
            attrs["assume_role_policy"] = json.dumps(
                {"Version": "2012-10-17", "Statement": [
                    {"Effect": effect, "Action": "sts:AssumeRole",
                     "Principal": {"Service": "ec2.amazonaws.com"}}]},
                separators=(",", ":"),
            )
        elif rtype == "aws_instance":
            attrs["ami"] = f"ami-{rng.randrange(16**8):08x}"
            attrs["instance_type"] = rng.choice(("t3.micro", "t3.large", "m5.xlarge"))
        else:
            attrs["cidr_block"] = f"10.{rng.randrange(256)}.0.0/16"
        if env is not None:
            attrs["tags"] = {
                "env": env, "owner": f"team-{rng.randrange(12)}",
                "cost_center": f"cc-{rng.randrange(40)}", "rev": str(rev),
            }
        row = Row("terraform_resource", "", type=rtype, env=env,
                  rev=str(rev) if env is not None else None,
                  force_destroy=fd, kms=kms, effect=effect)
        return attrs, row

    def _rtype(self) -> str:
        return self.rng.choice(("aws_s3_bucket", "aws_instance", "aws_iam_role", "aws_vpc"))

    def _config(self, path, tag, rev, large):
        rng = self.rng
        lines: list[str] = []
        rows: list[Row] = []
        if rng.random() < 0.3:
            region = rng.choice(_REGIONS)
            lines += [f'provider "aws" {{', f"  region = {_q(region)}",
                      f'  alias  = "{tag}"', "}", ""]
            rows.append(Row("terraform_provider", path, region=region))
        for i in range(rng.randrange(3)):
            vtype = rng.choice(_VAR_TYPES)
            lines += [f'variable "{tag}_v{i}" {{', f"  type        = {vtype}",
                      f'  description = "variable {i} of {tag}"', "}", ""]
            rows.append(Row("terraform_variable", path, type=vtype))
        if rng.random() < 0.5:
            names = []
            if rng.random() < 0.5:
                names.append(rng.choice(("owner", "Owner", "OWNER")))
            names += [f"{tag}_l{i}" for i in range(rng.randrange(1, 3))]
            lines.append("locals {")
            for n in names:
                lines.append(f"  {n} = {_q('team-' + str(rng.randrange(12)))}")
            lines += ["}", ""]
            rows += [Row("terraform_local", path, local_name=n) for n in names]
        if rng.random() < 0.35:
            if rng.random() < 0.5:
                ref = rng.choice(_REFS)
                lines += [f'module "{tag}_m" {{',
                          f'  source = "git::https://example.com/net.git?ref={ref}"',
                          f'  cidr   = "10.{rng.randrange(256)}.0.0/16"', "}", ""]
                rows.append(Row("terraform_module", path, module_ref=ref))
            else:
                version = rng.choice(("5.1.0", "4.0.2", "~> 5.0", ">= 3.0"))
                lines += [f'module "{tag}_m" {{',
                          '  source  = "terraform-aws-modules/vpc/aws"',
                          f"  version = {_q(version)}", "}", ""]
                rows.append(Row("terraform_module", path, version=version))
        if rng.random() < 0.4:
            owners = tuple(rng.sample(_OWNERS, rng.randrange(1, 4)))
            lines += [f'data "aws_ami" "{tag}_d" {{', "  most_recent = true",
                      f"  owners      = {_hcl_value(list(owners))}", "}", ""]
            rows.append(Row("terraform_data_source", path, type="aws_ami", owners=owners))
        buckets = []
        for i in range(rng.randrange(2, 5)):
            rtype = self._rtype()
            name = f"{tag}_r{i}"
            attrs, row = self._resource_props(rtype, rev)
            lines.append(f'resource "{rtype}" "{name}" {{')
            if rng.random() < 0.2:
                lines.append(f"  count = {rng.randrange(1, 4)}")
            for k, v in attrs.items():
                if isinstance(v, dict):
                    lines.append(f"  {k} = " + "\n".join(_hcl_map(v, "  ")))
                else:
                    lines.append(f"  {k} = {_hcl_value(v)}")
            if buckets and rng.random() < 0.3:
                lines.append(f"  depends_on = [aws_s3_bucket.{buckets[0]}]")
            lines += ["}", ""]
            rows.append(replace(row, path=path))
            if rtype == "aws_s3_bucket":
                buckets.append(name)
        if rng.random() < 0.5:
            sensitive = rng.random() < 0.3
            if buckets and rng.random() < 0.6:
                value, arn_ref = f"aws_s3_bucket.{buckets[0]}.arn", True
            else:
                value, arn_ref = "var.region", False
            lines += [f'output "{tag}_o" {{', f"  value       = {value}",
                      f'  description = "output of {tag}"']
            if sensitive:
                lines.append("  sensitive   = true")
            lines += ["}", ""]
            rows.append(Row("terraform_output", path, arn_ref=arn_ref, sensitive=sensitive))
        return "\n".join(lines), rows

    def _plan(self, path, tag, rev, large):
        rng = self.rng
        resources, rows = [], []
        for i in range(rng.randrange(3, 9)):
            rtype = self._rtype()
            attrs, row = self._resource_props(rtype, rev)
            resources.append({
                "address": f"{rtype}.{tag}_p{i}", "mode": "managed", "type": rtype,
                "name": f"{tag}_p{i}", "provider_name": "registry.terraform.io/hashicorp/aws",
                "values": attrs,
            })
            rows.append(replace(row, path=path))
        doc = {
            "format_version": "1.2", "terraform_version": "1.5.7",
            "planned_values": {"root_module": {"resources": resources}},
            "resource_changes": [
                {"address": r["address"], "change": {"actions": ["create"]}} for r in resources
            ],
        }
        return json.dumps(doc, indent=2), rows

    def _state(self, path, tag, rev, large):
        rng = self.rng
        resources, outputs, rows = [], {}, []
        n_res = rng.randrange(60, 80) if large else rng.randrange(3, 10)
        for i in range(n_res):
            rtype = self._rtype()
            instances = []
            n_inst = rng.choice((1, 1, 2, 3))
            for j in range(n_inst):
                attrs, row = self._resource_props(rtype, rev)
                attrs["id"] = f"{tag}-{i}-{j}"
                attrs["arn"] = f"arn:aws:{rtype}:::{tag}-{i}-{j}"
                if large:
                    attrs["user_data"] = "".join(rng.choice("abcdef0123456789") for _ in range(160))
                inst = {"schema_version": 0, "attributes": attrs}
                if n_inst > 1:
                    inst["index_key"] = j
                instances.append(inst)
                rows.append(replace(row, path=path))
            resources.append({
                "mode": "managed", "type": rtype, "name": f"{tag}_s{i}",
                "provider": 'provider["registry.terraform.io/hashicorp/aws"]',
                "instances": instances,
            })
        for i in range(rng.randrange(0, 3)):
            sensitive = rng.random() < 0.3
            out = {"value": f"arn:aws:s3:::{tag}-{i}", "type": "string"}
            if sensitive:
                out["sensitive"] = True
            outputs[f"{tag}_o{i}"] = out
            rows.append(Row("terraform_output", path, sensitive=sensitive))
        doc = {"version": 4, "terraform_version": "1.5.7", "serial": rev + 1,
               "lineage": tag, "outputs": outputs, "resources": resources}
        return json.dumps(doc, indent=2), rows


def _kind(path: str) -> str:
    if path.endswith(".tfstate"):
        return "state"
    if path.endswith(".json"):
        return "plan"
    return "config"
