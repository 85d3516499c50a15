import json, sys, statistics as st
rows=[json.loads(l) for l in open(sys.argv[1])]
metrics=["setup_s","pair_ms_p50","kind_a_ms_p50","kind_b_ms_p50","rows_per_s","retained_heap_mb"]
better={"rows_per_s":"higher"}
def q(v):
    v=sorted(v); n=len(v)
    qs=st.quantiles(v,n=4,method='inclusive') if n>1 else [v[0]]*3
    return qs
by={}
for r in rows:
    by.setdefault(r["seed"],{})[r["side"]]=r["result"]
ok=all(r["result"]["correct"] and r["result"]["failed"]==0 for r in rows)
print("runs",len(rows),"all correct",ok, "attempted/failed", sum(r["result"]["attempted"] for r in rows), sum(r["result"]["failed"] for r in rows))
for m in metrics:
    P=[by[p]["parent"]["metrics"][m]["value"] for p in sorted(by) if len(by[p])==2]
    C=[by[p]["change"]["metrics"][m]["value"] for p in sorted(by) if len(by[p])==2]
    hi=better.get(m)=="higher"
    wins=sum((c>p) if hi else (c<p) for p,c in zip(P,C))
    qp,qc=q(P),q(C)
    print(f"{m:18s} n={len(P)} parent med {qp[1]:.1f} [q1 {qp[0]:.1f}, q3 {qp[2]:.1f}]  change med {qc[1]:.1f} [q1 {qc[0]:.1f}, q3 {qc[2]:.1f}]  change/parent {qc[1]/qp[1]:.3f}  change wins {wins}/{len(P)}  parent IQR {qp[2]-qp[0]:.1f}")
