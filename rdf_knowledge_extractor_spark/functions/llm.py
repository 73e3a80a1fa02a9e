"""LLM clients for triple extraction.

- `unfence` reproduces the reference's markdown-fence stripping
  (ref:src/core/llm_client.rs:236-246) exactly.
- `HttpLlmClient` posts OpenAI-style chat completions with the same
  request parameters as the reference (temperature/max_tokens from
  config, top_p=0.9, frequency/presence penalties 0.0 —
  ref:src/core/llm_client.rs:177-186).  Executor-side batched calls.
- `StubLlmClient` is the deterministic test double: a rule-based
  extractor over the rigid sentence patterns produced by the synthetic
  pages generator.  It emits *raw LLM-shaped responses* (sometimes
  fence-wrapped, sometimes {"triples": …}-wrapped, sometimes with bare
  local-name predicates/subjects) so the full parse/unfence/normalize
  pipeline is exercised downstream.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Protocol


def unfence(content: str) -> str:
    """Strip ```json … ``` / ``` … ``` wrappers (ref:src/core/llm_client.rs:236-246)."""
    content = content.strip()
    if content.startswith("```json") and content.endswith("```"):
        return content[7 : len(content) - 3].strip()
    if content.startswith("```") and content.endswith("```"):
        return content[3 : len(content) - 3].strip()
    return content


class LlmClient(Protocol):
    def generate_structured_batch(
        self, prompts: list[str], system_prompt: str | None
    ) -> list[str]:
        """Return one raw response string per prompt."""
        ...


class HttpLlmClient:
    """OpenAI-compatible chat-completions client (stdlib urllib; used
    executor-side from mapInPandas batches — one POST per document, in
    sequence; every request opens its own connection via `urlopen`)."""

    def __init__(
        self,
        base_url: str,
        model: str,
        api_key: str | None = None,
        temperature: float = 0.3,
        max_tokens: int = 4096,
        timeout: int = 120,
    ):
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.api_key = api_key
        self.temperature = temperature
        self.max_tokens = max_tokens
        self.timeout = timeout

    def _post(self, prompt: str, system_prompt: str | None) -> str:
        import urllib.request

        messages = []
        if system_prompt:
            messages.append({"role": "system", "content": system_prompt})
        messages.append({"role": "user", "content": prompt})
        body = {
            "model": self.model,
            "messages": messages,
            "temperature": self.temperature,
            "max_tokens": self.max_tokens,
            "top_p": 0.9,
            "frequency_penalty": 0.0,
            "presence_penalty": 0.0,
        }
        req = urllib.request.Request(
            f"{self.base_url}/v1/chat/completions",
            data=json.dumps(body).encode("utf-8"),
            headers={"Content-Type": "application/json"}
            | ({"Authorization": f"Bearer {self.api_key}"} if self.api_key else {}),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            payload = json.loads(resp.read().decode("utf-8"))
        return payload["choices"][0]["message"]["content"]

    def generate_structured_batch(self, prompts, system_prompt):
        # ref:src/core/llm_client.rs:229-233 appends a JSON-only nudge
        suffix = (
            "\n\nPlease respond with valid JSON only. Do not include any "
            "markdown formatting or explanation text."
        )
        return [self._post(p + suffix, system_prompt) for p in prompts]

    def check_health(self) -> bool:
        """GET {base}/health; any non-2xx or network error → False
        (ref:src/core/llm_client.rs:123-135 — errors map to Ok(false))."""
        import urllib.request

        try:
            req = urllib.request.Request(f"{self.base_url}/health", method="GET")
            with urllib.request.urlopen(req, timeout=5) as resp:
                return 200 <= resp.status < 300
        except Exception:
            return False

    def list_models(self) -> list[str]:
        """GET {base}/v1/models → model ids
        (ref:src/core/llm_client.rs:137-154 — non-2xx raises)."""
        import urllib.request

        req = urllib.request.Request(f"{self.base_url}/v1/models", method="GET")
        if self.api_key:
            req.add_header("Authorization", f"Bearer {self.api_key}")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            if not (200 <= resp.status < 300):
                raise RuntimeError(f"API returned error: {resp.status}")
            payload = json.loads(resp.read().decode("utf-8"))
        return [m["id"] for m in payload.get("data", [])]


# ---------------------------------------------------------------------------
# Deterministic stub — the pytest/bench extractor
# ---------------------------------------------------------------------------

_DOC_RE = re.compile(r"## Document Content\n(.*?)\n\n## Information to Extract", re.S)

_LED_BY = re.compile(
    r"([A-Z][\w.,&' -]*?) is led by ([A-Z][\w' -]*?), who serves as ([\w -]+?)\."
)
_HQ = re.compile(r"([A-Z][\w.,&' -]*?) is headquartered in ([A-Z][\w' -]+?)\.")
# note \s+ after "with": the partner name sits in a nested <b> element,
# so the extracted text has a double space at the tag boundary
_PARTNER = re.compile(
    r"([A-Z][\w.,&' -]*?) announced a partnership with\s+([A-Z][\w.,&' -]+?)\s*\."
)


def _camel(name: str) -> str:
    return "".join(ch for ch in name.title() if ch.isalnum())


class StubLlmClient:
    """Rule-based extractor emitting LLM-shaped raw responses.

    Response *shape* varies deterministically with the document hash to
    exercise unfencing (P4), wrapper handling and URI normalization
    (P5-P7): bare JSON array | {"triples": []} wrapper | ```json fence |
    plain ``` fence; subjects/predicates sometimes bare local names.
    """

    def __init__(self, base_uri: str, namespace: str):
        self.base_uri = base_uri
        self.namespace = namespace
        self.model = "stub-extractor-v1"

    def _extract_facts(self, text: str) -> list[dict]:
        facts: list[dict] = []
        seen_names: set[str] = set()

        def name_fact(surface: str):
            if surface not in seen_names:
                seen_names.add(surface)
                facts.append(
                    {
                        "subject": self.base_uri + _camel(surface),
                        "predicate": self.namespace + "hasName",
                        "object": surface,
                    }
                )

        for m in _LED_BY.finditer(text):
            company, person, role = m.group(1), m.group(2), m.group(3)
            name_fact(company)
            facts.append(
                {
                    "subject": self.base_uri + _camel(person),
                    "predicate": self.namespace + "hasRole",
                    "object": role,
                    "confidence": 0.95,
                }
            )
            facts.append(
                {
                    "subject": self.base_uri + _camel(person),
                    "predicate": self.namespace + "worksFor",
                    "object": self.base_uri + _camel(company),
                }
            )
        for m in _HQ.finditer(text):
            company, city = m.group(1), m.group(2)
            facts.append(
                {
                    "subject": self.base_uri + _camel(company),
                    "predicate": self.namespace + "locatedIn",
                    "object": city,
                }
            )
        for m in _PARTNER.finditer(text):
            a, b = m.group(1), m.group(2)
            name_fact(a)
            facts.append(
                {
                    "subject": self.base_uri + _camel(a),
                    "predicate": self.namespace + "partneredWith",
                    "object": self.base_uri + _camel(b),
                }
            )
            name_fact(b)
        return facts

    def _shape_response(self, facts: list[dict], doc_text: str) -> str:
        h = int.from_bytes(
            hashlib.sha256(doc_text.encode("utf-8")).digest()[:4], "big"
        )
        variant = h % 4
        if variant == 1:
            # bare local names: downstream normalization must re-qualify
            shaped = []
            for f in facts:
                g = dict(f)
                if g["subject"].startswith(self.base_uri):
                    g["subject"] = g["subject"][len(self.base_uri):]
                if g["predicate"].startswith(self.namespace):
                    g["predicate"] = g["predicate"][len(self.namespace):]
                shaped.append(g)
            body = json.dumps(shaped)
        else:
            body = json.dumps(facts)
        if variant == 2:
            return f"```json\n{body}\n```"
        if variant == 3:
            return f"```\n{{\"triples\": {body}}}\n```"
        return body

    def _populate_template(self, prompt: str) -> str:
        """Deterministic stand-in for LLM template population
        (ref:src/templates/llm_population.rs — the reference sends the
        same prompt to a live model).  Fills `[FIELD: …]` placeholders
        from the prompt's "## Extracted Data" rows by key/label word
        overlap, resolves `[DROPDOWN: a | b]` to the first option and
        the remaining widget placeholders to TBD — so the demo emits a
        complete report offline and the population path is exercised
        end-to-end."""
        tpl_start = prompt.find("## Template to Populate")
        data_start = prompt.find("## Extracted Data")
        template = prompt[tpl_start + len("## Template to Populate"): data_start]
        data_sec = prompt[data_start:]
        pool: dict[str, str] = {}
        for line in data_sec.splitlines():
            s = line.strip()
            if s.startswith("- ") and ": " in s:
                k, _, v = s[2:].partition(": ")
                pool.setdefault(k.strip().lower(), v.strip())

        def fill_field(m: "re.Match[str]") -> str:
            label_words = set(re.findall(r"[a-z]+", m.group(1).lower()))
            for key, value in pool.items():
                key_words = set(re.findall(r"[a-z]+", key))
                if key_words & label_words:
                    return value
            return "Not Available"

        out = re.sub(r"\[FIELD:\s*([^\]]+)\]", fill_field, template)
        out = re.sub(r"\[DROPDOWN:\s*([^|\]]+)(?:\|[^\]]*)?\]", lambda m: m.group(1).strip(), out)
        out = re.sub(r"\[(?:DATE FIELD|TEXT AREA[^\]]*|CHECKLIST[^\]]*)\]", "TBD", out)
        return out.strip() + "\n"

    def generate_structured_batch(self, prompts, system_prompt=None):
        out = []
        for prompt in prompts:
            if "## Template to Populate" in prompt and "## Extracted Data" in prompt:
                out.append(self._populate_template(prompt))
                continue
            m = _DOC_RE.search(prompt)
            doc_text = m.group(1) if m else prompt
            facts = self._extract_facts(doc_text)
            out.append(self._shape_response(facts, doc_text))
        return out


def make_client(kind: str, config) -> LlmClient:
    """Factory usable inside executors (config is a broadcast-able dataclass)."""
    if kind == "stub":
        return StubLlmClient(config.rdf_schema.base_uri, config.rdf_schema.namespace)
    if kind == "http":
        ls = config.llm_settings
        return HttpLlmClient(
            ls.base_url, ls.model, ls.api_key, ls.temperature, ls.max_tokens, ls.timeout
        )
    raise ValueError(f"unknown llm client kind: {kind}")
