package com.example.foo

class Foo {
    companion object {
        fun companionFoo(): Foo = Foo()
    }

    private val bar = Bar()

    fun fooInFooBody() {
        println(bar.bar())
    }

    fun foo() {
        fooInFooBody()
        InnerFoo().innerFoo()
    }

    inner class InnerFoo {
        fun innerFoo() {
            println("inner ${bar.bar()}")
        }
    }
}
