"""Extraction-schema compiler: user schema (str | list | dict, nested)
-> a tree of nodes. The schema is the QUERY PLAN of this engine: each
node is one prompted scan, and the engine runs all nodes of one tree
level in one distributed stage.

Semantics re-derived from /root/reference/uie_predictor.py:574-622
(_build_tree) and 243-267 (prompt construction):

* zh child prompt:  parent_span_text + "的" + node_name
* en child prompt:  node_name + " of " + parent_span_text, except
  classification nodes ("name[opt1,opt2]") where the option suffix is
  re-appended after the parent text
* root prompts are the node name; all prompts pass through dbc2sbc
  (prompts only, never document text)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import List, Optional, Union

Schema = Union[str, list, dict]

_CLS_RE = re.compile(r"\[.*?\]$")


@dataclass
class SchemaNode:
    name: str
    children: List["SchemaNode"] = field(default_factory=list)
    parent: Optional["SchemaNode"] = None

    @property
    def path(self) -> str:
        parts = []
        node: Optional[SchemaNode] = self
        while node is not None and node.name != "root":
            parts.append(node.name)
            node = node.parent
        return "/".join(reversed(parts))

    def en_prompt_parts(self):
        """For English cls nodes 'Label of X [a, b]' the option suffix
        is spliced after the parent text (uie_predictor.py:250-256).
        Returns (prefix, suffix) where the child prompt is
        prefix + " of " + parent + suffix."""
        m = _CLS_RE.search(self.name)
        if m:
            prefix = self.name[: self.name.find("[", 1)].strip()
            return prefix, " " + m.group()
        return self.name, ""


def build_tree(schema: Schema) -> SchemaNode:
    """Compile a user schema into a SchemaNode tree rooted at 'root'."""
    if isinstance(schema, (str, dict)):
        schema = [schema]
    root = SchemaNode("root")
    _attach(root, schema)
    return root


def _attach(parent: SchemaNode, schema: list) -> None:
    for item in schema:
        if isinstance(item, str):
            node = SchemaNode(item, parent=parent)
            parent.children.append(node)
        elif isinstance(item, dict):
            for key, value in item.items():
                node = SchemaNode(key, parent=parent)
                parent.children.append(node)
                if isinstance(value, str):
                    _attach(node, [value])
                elif isinstance(value, list):
                    _attach(node, value)
                else:
                    raise TypeError(
                        f"Invalid schema: value for key {key!r} must be "
                        f"str or list, got {type(value).__name__}"
                    )
        else:
            raise TypeError(
                f"Invalid schema element: expected str or dict, got "
                f"{type(item).__name__}"
            )

