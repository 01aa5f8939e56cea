"""``docs serve``: static HTTP server over the target dir
(reference ``core/dbt/task/docs/serve.py:28`` — chdir to target, drop
an index.html, serve with SimpleHTTPRequestHandler; the reference's
index is the dbt-docs SPA, here a minimal catalog browser that reads
the same ``catalog.json`` + ``manifest.json`` artifacts)."""

from __future__ import annotations

import http.server
import os

_INDEX_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>sparkt docs</title>
<style>
 body{font-family:sans-serif;margin:2rem;max-width:60rem}
 table{border-collapse:collapse}td,th{border:1px solid #ccc;padding:4px 8px}
 h2{margin-top:2rem}
</style></head>
<body>
<h1>sparkt project docs</h1>
<p>Artifacts: <a href="manifest.json">manifest.json</a> ·
 <a href="catalog.json">catalog.json</a> ·
 <a href="run_results.json">run_results.json</a></p>
<div id="cat">loading catalog…</div>
<script>
fetch('catalog.json').then(r=>r.json()).then(cat=>{
  const div=document.getElementById('cat');div.innerHTML='';
  for(const [uid,node] of Object.entries(cat.nodes||{})){
    const h=document.createElement('h2');h.textContent=uid;div.appendChild(h);
    const t=document.createElement('table');
    t.innerHTML='<tr><th>column</th><th>type</th></tr>';
    for(const [name,col] of Object.entries(node.columns||{})){
      // textContent, not innerHTML: column names/types are user data
      // and this file is shareable — markup in a name must render
      // inert, not execute
      const tr=document.createElement('tr');
      const td1=document.createElement('td');td1.textContent=name;
      const td2=document.createElement('td');
      td2.textContent=col.type||col.data_type||'';
      tr.appendChild(td1);tr.appendChild(td2);
      t.appendChild(tr);
    }
    div.appendChild(t);
  }
}).catch(e=>{document.getElementById('cat').textContent=
  'no catalog.json — run `sparkt docs-generate` first ('+e+')'});
</script>
</body></html>
"""


def write_index(target_dir: str) -> str:
    path = os.path.join(target_dir, "index.html")
    with open(path, "w") as f:
        f.write(_INDEX_HTML)
    return path


def write_static_index(target_dir: str) -> str:
    """``docs generate --static`` (reference
    ``core/dbt/task/docs/generate.py:315-331``): one self-contained
    ``static_index.html`` with manifest.json and catalog.json inlined
    — shareable without a server, same filename as the reference."""
    import json

    def _load(name):
        try:
            with open(os.path.join(target_dir, name)) as f:
                return f.read()
        except OSError:
            return "{}"

    manifest_data = _load("manifest.json")
    catalog_data = _load("catalog.json")
    # validate BEFORE writing (a corrupt artifact must not leave a
    # half-written page behind), then make the JSON safe to inline in a
    # <script> block: '</script>' inside any description/raw_code would
    # otherwise terminate the element (broken page + HTML injection in
    # the shareable file). '<\/' is identical JSON after parsing.
    json.loads(manifest_data)
    json.loads(catalog_data)
    manifest_data = manifest_data.replace("</", "<\\/")
    catalog_data = catalog_data.replace("</", "<\\/")
    index = _INDEX_HTML.replace(
        "fetch('catalog.json').then(r=>r.json()).then(cat=>{",
        "Promise.resolve(\"CATALOG.JSON INLINE DATA\").then(cat=>{"
        "window.__manifest=\"MANIFEST.JSON INLINE DATA\";",
    )
    # the reference inlines via the same literal-placeholder replace
    index = index.replace('"MANIFEST.JSON INLINE DATA"', manifest_data)
    index = index.replace('"CATALOG.JSON INLINE DATA"', catalog_data)
    # links to sibling artifacts make no sense in a standalone file
    index = index.replace(
        '<p>Artifacts: <a href="manifest.json">manifest.json</a> ·\n'
        ' <a href="catalog.json">catalog.json</a> ·\n'
        ' <a href="run_results.json">run_results.json</a></p>',
        "<p>Self-contained docs (manifest + catalog inlined).</p>",
    )
    path = os.path.join(target_dir, "static_index.html")
    with open(path, "w") as f:
        f.write(index)
    return path


def make_server(target_dir: str, port: int = 8080):
    """HTTP server rooted at the target dir. ``port=0`` picks a free
    port (tests). Returns the live server; call ``serve_forever`` (or
    ``shutdown``) on it."""
    write_index(target_dir)
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=target_dir, **kw
    )
    return http.server.ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve_docs(target_dir: str, port: int = 8080) -> None:
    httpd = make_server(target_dir, port)
    actual = httpd.server_address[1]
    print(f"Serving docs at {actual}")
    print(f"To access from your browser, navigate to: http://localhost:{actual}")
    print("Press Ctrl+C to exit.")
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        httpd.shutdown()
