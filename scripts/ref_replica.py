"""Pure-Python replica of the reference's per-row conversion pipeline
(ncd/normal_table.py): fixed-width slice -> strip -> typed convert with
null-on-error -> redaction flags -> json.dumps -> gzip. csvkit/agate add
overhead on top of this, so this is a LOWER bound on the reference's cost.
Input: ROWS synthetic fixed-width rows (default 2M) from the generator
below, five columns (number, varchar, Oracle date, varchar, float with
every 13th cell redacted as '*')."""
import gzip, io, json, sys, time
from datetime import datetime

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
MONTHS = ["JAN","FEB","MAR","APR","MAY","JUN","JUL","AUG","SEP","OCT","NOV","DEC"]

def pad(s, n): return s[:n] if len(s) >= n else s + " " * (n - len(s))

lines = []
for i in range(ROWS):
    dt = f"{i % 28 + 1}-{MONTHS[i % 12]}-{1990 + i % 30}"
    loss = "*" if i % 13 == 0 else f"{i * 0.37:.2f}"
    lines.append(pad(str(i),10) + pad(f"D{i%90}",4) + pad(dt,11) +
                 pad(f"18:USC:{i%9999}",20) + pad(loss,12))
print(f"generated {len(lines)} rows", file=sys.stderr)

FIELDS = [("ID",0,10,"number"),("DISTRICT",10,14,"varchar"),
          ("DT",14,25,"date"),("CHARGE",25,45,"varchar"),("LOSS",45,57,"float")]

def conv_number(v):
    try: return int(v)
    except ValueError: return None
def conv_date(v):
    try: return datetime.strptime(v, "%d-%b-%Y").strftime("%Y-%m-%d")
    except ValueError: return None
def conv_float(v):
    try: return float(v)
    except ValueError: return None
CONV = {"number": conv_number, "date": conv_date, "float": conv_float,
        "varchar": lambda v: v}

t0 = time.time()
buf = io.BytesIO()
out = gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=9)  # ref default
n = 0
for line in lines:
    row = {}
    for (name, a, b, typ) in FIELDS:
        cell = line[a:b].strip()
        if cell == "*":
            row[name] = None; row["redacted_" + name] = True
        else:
            row[name] = CONV[typ](cell); row["redacted_" + name] = False
    out.write(json.dumps(row).encode()); out.write(b"\n")
    n += 1
out.close()
dt = time.time() - t0
print(f"convert+json+gzip: {n} rows in {dt:.1f}s -> {n/dt/1e3:.0f}k rows/s "
      f"({buf.tell()/1e6:.0f} MB gz)")
# conversion only (no serialization), the fairest CPU-only comparison
t0 = time.time()
for line in lines:
    for (name, a, b, typ) in FIELDS:
        cell = line[a:b].strip()
        if cell != "*":
            CONV[typ](cell)
dt2 = time.time() - t0
print(f"convert only:      {n} rows in {dt2:.1f}s -> {n/dt2/1e3:.0f}k rows/s")
